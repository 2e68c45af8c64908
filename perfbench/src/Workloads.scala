package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Hashing
import graft.operators.{Dedup, GraphOps, TextOps}
import graft.pipelines.{Curation, Pipelines}
import graft.sinks.{JdbcGraphStore, JdbcGraphStoreFactory, LiveUpsert, Rdf, Shards}
import graft.sources.Tables
import graft.streaming.EdgeStreams

object Workloads {
  val Names: Seq[String] = Seq("bulk_etl", "hop_serve", "ingest_mixed", "curation")

  def create(name: String, ctx: Ctx): Workload = name match {
    case "bulk_etl"     => new BulkEtl(ctx)
    case "hop_serve"    => new HopServe(ctx)
    case "ingest_mixed" => new IngestMixed(ctx)
    case "curation"     => new CurationRun(ctx)
    case other => sys.error(s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("last_update", TimestampType),
    StructField("from_person_id", StringType),
    StructField("to_person_id", StringType),
    StructField("stats", StructType(Seq(
      StructField("raw_score_in", IntegerType, nullable = false),
      StructField("raw_score_out", IntegerType, nullable = false))))))

  def docRows(docs: Seq[Gen.Doc]): java.util.List[Row] =
    docs.map(d => Row(new Timestamp(d.ts), d.from, d.to, Row(d.scoreIn, d.scoreOut))).asJava

  def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], path: String): Unit =
    spark.createDataFrame(docRows(docs), DocSchema).coalesce(1).write.mode("overwrite").parquet(path)

  /** The three reference inputs as `<dir>/<name>.parquet`, readable by
    * `graft.sources.Tables.table`.
    */
  def writeGraph(spark: SparkSession, g: Gen.Graph, dir: String): Unit = {
    import spark.implicits._
    writeDocs(spark, g.docs, s"$dir/relationship_docs.parquet")
    g.users.toDF("person_id_user").coalesce(1).write.mode("overwrite").parquet(s"$dir/trove_users.parquet")
    g.teams.toDF("team_id", "person_id").coalesce(1).write.mode("overwrite").parquet(s"$dir/team_members.parquet")
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(p => Files.deleteIfExists(p))
  }

  /** Materialize a layer boundary: eager, lineage-cut. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Drop blocks that an operation persisted (single-client workloads). */
  def releaseNew(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  def persisted(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Order-independent fingerprint of a line multiset. */
  def fingerprint(lines: Iterator[String]): (Long, Long) = {
    var n = 0L
    var h = 0L
    lines.foreach { l =>
      n += 1
      h += (MurmurHash3.stringHash(l, 17).toLong << 32) ^ (MurmurHash3.stringHash(l, 91).toLong & 0xffffffffL)
    }
    (n, h)
  }

  def textLines(dir: String): Iterator[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName).iterator
      .flatMap(f => Files.readAllLines(f.toPath).asScala)

  def person(spark: SparkSession, id: String): DataFrame = {
    import spark.implicits._
    Seq(id).toDF("person_id")
  }

  /** Execute `df`'s physical plan once and return its first column. */
  def runIds(df: DataFrame): Set[String] =
    df.queryExecution.toRdd.map(_.getUTF8String(0).toString).collect().toSet
}

import Workloads._

/** `bulk`: generated relationship docs -> finished RDF directory. */
final class BulkEtl(ctx: Ctx) extends Workload(ctx) {
  val Persons = ctx.sized(8000)
  val Docs = ctx.sized(20000)
  val Teams = ctx.sized(100)
  private val g = Gen.graph(ctx.seed, Persons, Docs, Teams)
  private val expected = Ref.bulkTriples(g)
  private val expectedFp = fingerprint(expected.iterator.flatMap { case (l, n) => Iterator.fill(n)(l) })
  private val outDir = new File(ctx.work, "rdf").getPath
  private var spark: SparkSession = _
  val opsPerSecond = 1.0

  def generate(spark: SparkSession): Unit = writeGraph(spark, g, ctx.inDir)

  private def input(name: String) = Tables.table(spark, ctx.inDir, name)

  def setup(spark: SparkSession): Unit = {
    this.spark = spark
    op(0, -1, traced = false)
  }

  private def check(): Boolean = {
    val got = if (ctx.takeFault()) textLines(outDir) ++ Iterator("_:x <person_id> \"x\" .") else textLines(outDir)
    val fp = fingerprint(got)
    if (fp != expectedFp) {
      val seen = Ref.counts(textLines(outDir).toSeq)
      val missing = expected.count { case (l, n) => seen.getOrElse(l, 0) != n }
      ctx.log(s"bulk_etl: RDF mismatch: ${fp._1} lines vs ${expectedFp._1} expected, $missing triples differ")
    }
    fp == expectedFp
  }

  def op(client: Int, index: Long, traced: Boolean): Seq[Sample] = {
    val before = persisted(spark)
    val t0 = System.nanoTime()
    val (req, extras, took) =
      if (!traced) {
        Pipelines.bulk(input("relationship_docs"), input("trove_users"), input("team_members"), outDir)
        (0L, Map.empty[String, Double], ms(t0))
      } else tracedPass()
    val ok = check()
    releaseNew(spark, before)
    Seq(Sample("op", took, ok, req = req, extras = extras))
  }

  /** The traced pass: (request id, probe figures, pass ms without probes). */
  private def tracedPass(): (Long, Map[String, Double], Double) = {
    val tr = ctx.tracer.get
    val req = ctx.nextRequest()
    val x = mutable.Map.empty[String, Double]
    val t0 = System.nanoTime()
    tr.span("bulk.pass", req) {
      val (docs, users, teams) = tr.span("sources.read", req) {
        (cut(input("relationship_docs")), cut(input("trove_users")), cut(input("team_members")))
      }
      x("sources.rows") = Seq(docs, users, teams).map(_.count()).sum.toDouble
      val edges = tr.span("graphops.edges", req)(cut(GraphOps.edgesFromDocs(docs)))
      val merged = tr.span("graphops.merge", req)(cut(GraphOps.mergeMaxEdges(edges)))
      x("graphops.merge_in_rows") = edges.count().toDouble
      x("graphops.merge_out_rows") = merged.count().toDouble
      val persons = tr.span("graphops.trove", req) {
        val ids = edges.select(col("src").as("person_id"))
          .union(edges.select(col("dst").as("person_id")))
          .union(teams.select(col("person_id")))
          .distinct()
        cut(GraphOps.markTroveUsers(ids, users))
      }
      tr.span("pipelines.plan", req) {
        Pipelines.bulkTriples(input("relationship_docs"), input("trove_users"), input("team_members"))
          .queryExecution.executedPlan
      }
      tr.span("sinks.rdf_write", req) {
        Rdf.writeTriples(outDir,
          Rdf.teamTriples(teams.select(col("team_id")).distinct()),
          Rdf.teamMemberTriples(teams), Rdf.personTriples(persons), Rdf.edgeTriples(merged))
      }
    }
    val took = ms(t0)
    x("sources.bytes") = Seq("relationship_docs", "trove_users", "team_members")
      .map(n => dirBytes(s"${ctx.inDir}/$n.parquet")).sum.toDouble
    x("sinks.rdf_bytes") = dirBytes(outDir).toDouble
    (req, x.toMap, took)
  }

  def workPerSec(ops: Seq[Sample], wallS: Double): Double =
    if (ops.isEmpty) 0.0 else Docs / (Stats.median(ops.map(_.ms)) / 1000)

  def layers(s: Sample, f: Map[String, Double]): Map[String, Double] = {
    def self(n: String) = f.getOrElse(s"self:$n", 0.0)
    s.extras ++ Map(
      "sources.read_s" -> self("sources.read"),
      "graphops.edges_s" -> self("graphops.edges"),
      "graphops.merge_ratio" -> s.extras("graphops.merge_out_rows") / s.extras("graphops.merge_in_rows"),
      "graphops.trove_s" -> self("graphops.trove"),
      "pipelines.plan_ms" -> self("pipelines.plan") * 1000,
      "sinks.rdf_write_s" -> self("sinks.rdf_write")) ++ f.filter(_._1.startsWith("exec."))
  }

  override def report(samples: Seq[Sample], wallS: Double): Seq[String] = {
    val ops = samples.filter(s => s.kind == "op" && s.ok)
    if (ops.isEmpty) Nil
    else Seq(f"bulk_docs_per_s=${workPerSec(ops, wallS)}%.1f over ${ops.size} passes of $Docs docs")
  }
}

/** `query` under load: 2-hop requests against a graph cached in set-up. */
final class HopServe(ctx: Ctx) extends Workload(ctx) {
  override val clients = 2
  val opsPerSecond = 1.0
  val Persons = ctx.sized(4000)
  val Docs = ctx.sized(8000)
  val Teams = ctx.sized(100)
  private val g = Gen.graph(ctx.seed, Persons, Docs, Teams)
  private val adj = Ref.adjacency(Ref.mergeMax(g.docs).keys)
  private val members = g.teams.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
  private val teamIds = g.teams.map(_._1).distinct
  /** Endpoints by descending degree: Zipf rank 0 is the hottest person. */
  private val hot: Vector[String] = adj.toVector.sortBy { case (p, n) => (-n.length, p) }.map(_._1).take(2000)
  private val teamZipf = new Gen.Zipf(teamIds.size, 1.0)
  private val personZipf = new Gen.Zipf(hot.size, 1.0)
  private val expected = new java.util.concurrent.ConcurrentHashMap[String, Set[String]]
  private val rngs = Array.tabulate(clients)(c => new SplittableRandom(ctx.seed * 7919 + c))
  private var spark: SparkSession = _
  private var edges: DataFrame = _
  private var teams: DataFrame = _

  def generate(spark: SparkSession): Unit = writeGraph(spark, g, ctx.inDir)

  def setup(spark: SparkSession): Unit = {
    this.spark = spark
    edges = GraphOps.mergeMaxEdges(GraphOps.edgesFromDocs(Tables.table(spark, ctx.inDir, "relationship_docs"))).cache()
    teams = Tables.table(spark, ctx.inDir, "team_members").cache()
    edges.count(); teams.count()
    val warm = new SplittableRandom(ctx.seed)
    (0 until 2).foreach(i => serve(draw(warm, i), traced = false))
  }

  /** Request `i` of a client: team 2-hop queries and single-person 2-hop
    * expansions alternate, so every run has the same mix.
    */
  private def draw(r: SplittableRandom, i: Long): (String, String) =
    if (i % 2 == 0) ("team", teamIds(teamZipf.sample(r))) else ("person", hot(personZipf.sample(r)))

  private def seedsOf(req: (String, String)): Set[String] =
    if (req._1 == "team") members.getOrElse(req._2, Set.empty) else Set(req._2)

  private def build(req: (String, String)): DataFrame =
    if (req._1 == "team") Pipelines.hopQuery(edges, teams, req._2)
    else GraphOps.kHop(edges, person(spark, req._2), 2)

  private def serve(req: (String, String), traced: Boolean): Sample = {
    val key = req._1 + ":" + req._2
    val want = expected.computeIfAbsent(key, _ => Ref.kHop(adj, seedsOf(req), 2))
    val t0 = System.nanoTime()
    val (got, id) =
      if (!traced) (runIds(build(req)), 0L)
      else {
        val tr = ctx.tracer.get
        val id = ctx.nextRequest()
        val got = tr.span("hop.request", id) {
          tr.span("graphops.khop", id) {
            val df = build(req)
            tr.span("pipelines.plan", id)(df.queryExecution.executedPlan)
            runIds(df)
          }
        }
        (got, id)
      }
    val took = ms(t0)
    val seen = if (ctx.takeFault()) got + "not-a-person" else got
    val ok = seen == want
    if (!ok) ctx.log(s"hop_serve: $key returned ${seen.size} ids, expected ${want.size}")
    Sample("op", took, ok, req = id, extras = Map("graphops.khop_rows" -> got.size.toDouble))
  }

  def op(client: Int, index: Long, traced: Boolean): Seq[Sample] = Seq(serve(draw(rngs(client), index), traced))

  /** Traced and untraced requests alternate in pairs, so both see the same mix. */
  override def tracedOp(client: Int, index: Long): Boolean = (index / 2) % 2 == 1

  def workPerSec(ops: Seq[Sample], wallS: Double): Double = ops.size / wallS

  def layers(s: Sample, f: Map[String, Double]): Map[String, Double] = s.extras ++ Map(
    "graphops.khop_s" -> f.getOrElse("self:graphops.khop", 0.0),
    "graphops.khop_jobs" -> f.getOrElse("jobs:graphops.khop", 0.0),
    "graphops.khop_tasks" -> f.getOrElse("tasks:graphops.khop", 0.0),
    "graphops.khop_cuts" -> f.getOrElse("cuts:graphops.khop", 0.0),
    "pipelines.plan_ms" -> f.getOrElse("self:pipelines.plan", 0.0) * 1000) ++ f.filter(_._1.startsWith("exec."))

  override def report(samples: Seq[Sample], wallS: Double): Seq[String] = {
    val ops = samples.filter(s => s.kind == "op" && s.ok).map(_.ms)
    if (ops.isEmpty) Nil
    else {
      val (tl, tv) = Stats.tail(ops)
      Seq(f"hop_p50_ms=${Stats.median(ops)}%.2f hop_tail_ms($tl of ${ops.size})=$tv%.2f " +
        f"hop_qps=${ops.size / wallS}%.2f distinct_requests=${expected.size}")
    }
  }
}

/** `etl`: time-ordered increments land as parquet files; each is drained
  * by the file stream into the parquet edge state and upserted into an
  * in-memory Derby store, then 2-hop reads run on the fresh state. The
  * increment sequence replays in epochs from empty state, so every run
  * sees the same state sizes however fast it goes.
  */
final class IngestMixed(ctx: Ctx) extends Workload(ctx) {
  val Persons = ctx.sized(10000)
  val Batches = 8
  val BatchDocs = ctx.sized(750)
  val Reads = 1
  val CommitEvery = 1000
  private val g = Gen.graph(ctx.seed, Persons, Batches * BatchDocs, teams = 0)
  private val incs = g.docs.grouped(BatchDocs).toVector
  /** Reference edge state after each increment. */
  private val states: Vector[Map[Ref.Key, Double]] = {
    val acc = mutable.HashMap.empty[Ref.Key, Double]
    incs.map(inc => Ref.mergeMax(inc, acc).toMap)
  }
  private val adjs = states.map(s => Ref.adjacency(s.keys))
  private val upserts = incs.map(inc => Ref.mergeMax(inc).size)
  private val readTargets: Vector[Vector[String]] = {
    val r = new SplittableRandom(ctx.seed * 31 + 5)
    adjs.map { a =>
      val hot = a.toVector.sortBy { case (p, n) => (-n.length, p) }.map(_._1).take(500)
      val z = new Gen.Zipf(hot.size, 1.0)
      Vector.fill(Reads)(hot(z.sample(r)))
    }
  }
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private var spark: SparkSession = _
  private var epoch = 0
  private var batch = 0
  private var epochOk = true
  private var epochTraced = false

  private def staged(i: Int) = s"${ctx.inDir}/increments/inc-$i"
  private def epochDir = new File(ctx.work, s"ingest/e$epoch")
  private def inDir = new File(epochDir, "in").getPath
  private def stateDir = new File(epochDir, "state").getPath
  private def table = s"EDGE_STATE_E$epoch"

  def generate(spark: SparkSession): Unit =
    incs.indices.foreach(i => writeDocs(spark, incs(i), staged(i)))

  def setup(spark: SparkSession): Unit = {
    this.spark = spark
    op(0, -1, traced = false)
    endEpoch(check = false)
  }

  val opsPerSecond = 1.0
  /** Whole epochs only: one per 8 seconds, at least one. */
  override def opsPerClient(seconds: Double): Long =
    if (seconds <= 0) 0L else Batches * math.max(1L, math.round(seconds / 8))
  override def tracedOp(client: Int, index: Long): Boolean = if (batch == 0) epoch % 2 == 1 else epochTraced

  /** Move increment `i` into the watched directory: copy under a hidden
    * name, then rename, so the stream never lists a partial file.
    */
  private def land(i: Int): String = {
    val part = new File(staged(i)).listFiles().filter(f => f.getName.startsWith("part-")).head
    val dst = new File(inDir, f"inc-$i%03d.parquet")
    val tmp = new File(inDir, s"_landing-$i")
    new File(inDir).mkdirs()
    Files.copy(part.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst.getPath
  }

  private def endEpoch(check: Boolean): Boolean = {
    val ok = !check || checkState()
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.executeUpdate(s"DROP TABLE $table") finally st.close() }
    catch { case _: java.sql.SQLException => () }
    finally c.close()
    deleteTree(epochDir)
    epoch += 1
    batch = 0
    ok
  }

  private def checkState(): Boolean = {
    val want = states(Batches - 1)
    val parquet = spark.read.parquet(stateDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val c = DriverManager.getConnection(url)
    val derby = try {
      val rs = c.createStatement().executeQuery(s"SELECT src, dst, score FROM $table")
      val b = Map.newBuilder[Ref.Key, Double]
      while (rs.next()) b += (rs.getString(1), rs.getString(2)) -> rs.getDouble(3)
      b.result()
    } finally c.close()
    val parquetSeen = if (ctx.takeFault()) parquet - parquet.keys.head else parquet
    val okP = parquetSeen == want
    val okD = derby == want
    if (!okP) ctx.log(s"ingest_mixed: parquet state has ${parquetSeen.size} edges, expected ${want.size}")
    if (!okD) ctx.log(s"ingest_mixed: Derby table has ${derby.size} edges, expected ${want.size}")
    okP && okD
  }

  def op(client: Int, index: Long, traced: Boolean): Seq[Sample] = {
    if (batch == 0) {
      epochOk = true
      epochTraced = traced
      JdbcGraphStore.ensureTable(url, table)
    }
    val i = batch
    val before = persisted(spark)
    val out = mutable.ArrayBuffer.empty[Sample]
    try {
      val landed = land(i)
      val ckpt = new File(epochDir, "checkpoint").getPath
      def drain() = EdgeStreams.runFileEtl(spark, inDir, DocSchema, stateDir, ckpt)
      def upsert() = LiveUpsert.writeUpserts(GraphOps.edgesFromDocs(spark.read.parquet(landed)),
        new JdbcGraphStoreFactory(url, table, CommitEvery))
      val t0 = System.nanoTime()
      val (req, x, took) =
        if (!traced) {
          drain().awaitTermination()
          upsert()
          (0L, Map.empty[String, Double], ms(t0))
        } else {
          val tr = ctx.tracer.get
          val req = ctx.nextRequest()
          var q: org.apache.spark.sql.streaming.StreamingQuery = null
          tr.span("ingest.batch", req) {
            tr.span("streaming.run", req) { q = drain(); q.awaitTermination() }
            tr.span("sinks.upsert", req)(upsert())
          }
          val took = ms(t0)
          val progress = q.recentProgress.toSeq
          def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
          val stateBytes = dirBytes(stateDir).toDouble
          (req, Map(
            "streaming.batch_s" -> dur("addBatch") / 1e3,
            "trigger_ms" -> dur("triggerExecution").toDouble,
            "streaming.state_bytes_written" -> stateBytes,
            "streaming.state_write_amp" -> stateBytes / new File(landed).length,
            "graphops.state_rows" -> spark.read.parquet(stateDir).count().toDouble,
            "sinks.upserts" -> upserts(i).toDouble), took)
        }
      out += Sample("op", took, ok = true, upserts(i).toDouble, req, x)
      val fresh = Pipelines.readStateSafe(spark, stateDir).get
      readTargets(i).foreach { p => out += read(fresh, i, p, traced) }
    } catch {
      case e: Exception =>
        ctx.log(s"ingest_mixed: epoch $epoch batch $i failed: $e")
        out += Sample("op", 0.0, ok = false)
        epochOk = false
    }
    releaseNew(spark, before)
    batch += 1
    if (batch == Batches || !epochOk) {
      val ok = endEpoch(check = epochOk)
      if (!ok) out += Sample("state", 0.0, ok = false)
    }
    out.toSeq
  }

  private def read(state: DataFrame, i: Int, p: String, traced: Boolean): Sample = {
    val want = Ref.kHop(adjs(i), Set(p), 2)
    val t0 = System.nanoTime()
    val (got, req) =
      if (!traced) (runIds(GraphOps.kHop(state, person(spark, p), 2)), 0L)
      else {
        val tr = ctx.tracer.get
        val req = ctx.nextRequest()
        val got = tr.span("ingest.read", req) {
          tr.span("graphops.khop", req) {
            val df = GraphOps.kHop(state, person(spark, p), 2)
            tr.span("pipelines.plan", req)(df.queryExecution.executedPlan)
            runIds(df)
          }
        }
        (got, req)
      }
    val took = ms(t0)
    val ok = got == want
    if (!ok) ctx.log(s"ingest_mixed: read of $p after batch $i returned ${got.size} ids, expected ${want.size}")
    Sample("read", took, ok, req = req, extras = Map("graphops.khop_rows" -> got.size.toDouble))
  }

  def workPerSec(ops: Seq[Sample], wallS: Double): Double = {
    val s = ops.map(_.ms).sum / 1000
    if (s <= 0) 0.0 else ops.map(_.work).sum / s
  }

  def layers(s: Sample, f: Map[String, Double]): Map[String, Double] =
    if (s.kind == "read") s.extras ++ Map(
      "graphops.khop_s" -> f.getOrElse("self:graphops.khop", 0.0),
      "graphops.khop_jobs" -> f.getOrElse("jobs:graphops.khop", 0.0),
      "graphops.khop_tasks" -> f.getOrElse("tasks:graphops.khop", 0.0),
      "graphops.khop_cuts" -> f.getOrElse("cuts:graphops.khop", 0.0),
      "pipelines.plan_ms" -> f.getOrElse("self:pipelines.plan", 0.0) * 1000)
    else {
      val upsertS = f.getOrElse("self:sinks.upsert", 0.0)
      val runMs = f.getOrElse("wall:streaming.run", 0.0) * 1000
      (s.extras - "trigger_ms") ++ Map(
        "streaming.start_ms" -> math.max(0.0, runMs - s.extras("trigger_ms")),
        "graphops.state_merge_s" -> f.getOrElse("cutjob_s:streaming.run", 0.0),
        "sinks.upsert_s" -> upsertS,
        "sinks.upserts_per_s" -> (if (upsertS > 0) s.extras("sinks.upserts") / upsertS else 0.0)) ++
        f.filter(_._1.startsWith("exec."))
    }

  override def report(samples: Seq[Sample], wallS: Double): Seq[String] = {
    val ops = samples.filter(s => s.kind == "op" && s.ok)
    val reads = samples.filter(s => s.kind == "read" && s.ok).map(_.ms)
    if (ops.isEmpty || reads.isEmpty) Nil
    else {
      val b = ops.map(_.ms / 1000)
      val (tl, tv) = Stats.tail(b)
      Seq(f"ingest_batch_p50_s=${Stats.median(b)}%.3f ingest_batch_tail_s($tl of ${b.size})=$tv%.3f " +
        f"ingest_edges_per_s=${workPerSec(ops, wallS)}%.1f ingest_read_p50_ms=${Stats.median(reads)}%.2f " +
        s"(${reads.size} reads, $epoch epochs of $Batches x $BatchDocs docs)")
    }
  }

  override def close(): Unit = {
    try DriverManager.getConnection("jdbc:derby:memory:perfbench;drop=true")
    catch { case _: java.sql.SQLException => () }
  }
}

/** The curation path: quality gate, exact and near dedup, split, and
  * sharded export of a corpus with planted duplicates.
  */
final class CurationRun(ctx: Ctx) extends Workload(ctx) {
  val Base = ctx.sized(1000)
  val ExactRate = 0.1
  val NearRate = 0.1
  val LowRate = 0.05
  val ShardCount = 4
  val opsPerSecond = 0.625
  private val corpus = Gen.corpus(ctx.seed, Base, ExactRate, NearRate, LowRate)
  private val checker = new Ref.CurationCheck(corpus)
  private val outDir = new File(ctx.work, "shards").getPath
  private var spark: SparkSession = _

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"${ctx.inDir}/documents.parquet")
  }

  def setup(spark: SparkSession): Unit = {
    this.spark = spark
    op(0, -1, traced = false)
  }

  private def survivors(): Seq[(Long, String)] =
    spark.read.parquet(outDir).select(col("doc_id"), col("split")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  def op(client: Int, index: Long, traced: Boolean): Seq[Sample] = {
    val before = persisted(spark)
    val t0 = System.nanoTime()
    val (req, x, took) =
      if (!traced) {
        val docs = Tables.documents(spark, ctx.inDir)
        Shards.writeSplitShards(Curation.curate(docs), outDir, ShardCount, "doc_id")
        (0L, Map.empty[String, Double], ms(t0))
      } else tracedPass()
    val rows = survivors()
    val seen = if (ctx.takeFault()) rows :+ rows.head else rows
    val errs = checker.errors(seen)
    errs.foreach(e => ctx.log(s"curation: $e"))
    val extras = if (req == 0L) x else x + ("dedup.planted_recall" -> Ref.plantedRecall(corpus, rows.map(_._1).toSet))
    releaseNew(spark, before)
    Seq(Sample("op", took, errs.isEmpty, req = req, extras = extras))
  }

  /** The traced pass: (request id, probe figures, pass ms without probes). */
  private def tracedPass(): (Long, Map[String, Double], Double) = {
    val tr = ctx.tracer.get
    val req = ctx.nextRequest()
    val x = mutable.Map.empty[String, Double]
    var sigs: DataFrame = null
    val t0 = System.nanoTime()
    tr.span("curate.pass", req) {
      val docs = tr.span("sources.read", req)(cut(Tables.documents(spark, ctx.inDir)))
      val keepIds = tr.span("textops.quality", req) {
        cut(TextOps.qualityScore(docs).filter(col("keep")).select(col("doc_id")))
      }
      x("sources.rows") = docs.count().toDouble
      x("textops.kept_ratio") = keepIds.count().toDouble / x("sources.rows")
      val quality = docs.join(keepIds, Seq("doc_id"), "left_semi")
      val exactIds = tr.span("dedup.exact", req) {
        cut(Dedup.exactDedup(quality).select(col("canonical_id").as("doc_id")))
      }
      val exact = docs.join(exactIds, Seq("doc_id"), "left_semi")
      val pairs = tr.span("dedup.simhash", req) {
        sigs = cut(Dedup.simhashSignatures(exact))
        cut(Dedup.simhashPairs(sigs, 3, maxBucketSize = Curation.DefaultMaxBucketSize))
      }
      x("dedup.verified_pairs") = pairs.count().toDouble
      val comps = tr.span("dedup.cc", req) {
        cut(Dedup.connectedComponents(pairs, exactIds, broadcastLabels = true))
      }
      val canon = comps.filter(col("doc_id") === col("component_id")).select(col("doc_id"))
      val kept = exact.join(canon, Seq("doc_id"), "left_semi")
      val hashed = tr.span("functions.hash", req) {
        cut(kept.select(col("doc_id"), Hashing.Fast(col("text")).as("h")))
      }
      x("functions.hashed_rows") = hashed.count().toDouble
      val split = tr.span("textops.split", req)(cut(TextOps.hashSplit(kept, 800, 100)))
      tr.span("sinks.shards_write", req)(Shards.writeSplitShards(split, outDir, ShardCount, "doc_id"))
    }
    val took = ms(t0)
    x("dedup.candidate_pairs") = bandCandidates(sigs).toDouble
    x("dedup.pair_yield") = x("dedup.verified_pairs") / math.max(1.0, x("dedup.candidate_pairs"))
    x("sources.bytes") = dirBytes(s"${ctx.inDir}/documents.parquet").toDouble
    x("sinks.shards_bytes") = dirBytes(outDir).toDouble
    (req, x.toMap, took)
  }

  /** Distinct document pairs that share at least one of the four 16-bit
    * SimHash bands: the candidate set before the Hamming check.
    */
  private def bandCandidates(sigs: DataFrame): Long = {
    val s = sigs.select(col("doc_id"), col("simhash")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = mutable.HashSet.empty[(Long, Long)]
    (0 until 4).foreach { b =>
      s.groupBy { case (_, h) => (h >>> (16 * b)) & 0xffffL }.valuesIterator.foreach { grp =>
        val ids = grp.map(_._1).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) pairs += ((ids(i), ids(j)))
      }
    }
    pairs.size.toLong
  }

  def workPerSec(ops: Seq[Sample], wallS: Double): Double =
    if (ops.isEmpty) 0.0 else corpus.docs.size / (Stats.median(ops.map(_.ms)) / 1000)

  def layers(s: Sample, f: Map[String, Double]): Map[String, Double] = {
    def self(n: String) = f.getOrElse(s"self:$n", 0.0)
    s.extras ++ Map(
      "sources.read_s" -> self("sources.read"),
      "textops.quality_s" -> self("textops.quality"),
      "dedup.exact_s" -> self("dedup.exact"),
      "dedup.simhash_s" -> self("dedup.simhash"),
      "dedup.cc_s" -> self("dedup.cc"),
      // one cut for the pair list, one per propagation round, one for the boundary
      "dedup.cc_rounds" -> math.max(0.0, f.getOrElse("cuts:dedup.cc", 0.0) - 2),
      "functions.hash_s" -> self("functions.hash"),
      "sinks.shards_write_s" -> self("sinks.shards_write")) ++ f.filter(_._1.startsWith("exec."))
  }

  override def report(samples: Seq[Sample], wallS: Double): Seq[String] = {
    val ops = samples.filter(s => s.kind == "op" && s.ok)
    if (ops.isEmpty) Nil
    else Seq(f"curate_docs_per_s=${workPerSec(ops, wallS)}%.1f over ${ops.size} passes of ${corpus.docs.size} docs")
  }
}
