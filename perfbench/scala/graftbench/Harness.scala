package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Graft, SparkEntry}
import graft.rdf.{Repository, Serializer, TpchRdf}
import graft.server.SparqlServer
import graft.sparql.{Ask, Construct, Describe, DescribeWhere, Parser}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The JVM half of the benchmark: it owns the Spark session, the graft
  * store and (for the serving workloads) a [[SparqlServer]], and takes
  * one JSON command per stdin line from `perfbench/run.py`, answering
  * each with one `@@ {json}` line on stdout. It reaches graft only
  * through public entry points: `SparqlServer`, `Graft`, `Parser`,
  * `Serializer`, `Repository` and `SparkEntry.queries`.
  *
  * Commands (field `cmd`):
  *  - `setup`: build the store (and server) for a workload; repeatable
  *    after `teardown`, so set-up time can be taken as a median.
  *  - `teardown`: stop the server and drop every cached block.
  *  - `stats`: block-manager, persisted-RDD and listener counters.
  *  - `trace`: register or remove the tracing listeners.
  *  - `inproc`: run one query in-process with each layer timed.
  *  - `replica`, `side_update`: seed a repository replica the benchmark
  *    owns, and apply an update to it with the commit timed (traced
  *    `sparql_rw` only, after the traced HTTP pass, so that the
  *    replica's views never share the served store's samples).
  *  - `batch`: run `SparkEntry.queries` by name, timed per query.
  *  - `oracle`: the DuckDB oracle texts (`TpchRdf.oracleCte`,
  *    `SparkEntry.oracleSql`) for the named batch queries.
  *  - `quit`. */
object Harness {
  private val mapper = new ObjectMapper()

  private def now(): Long = System.nanoTime()
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  final class State(val spark: SparkSession, val tracer: Tracer, val storage: StorageMeter) {
    var graft: Graft = _
    var server: SparqlServer = _
    var side: Repository = _
    var sideConn: (Long, Graft) = _
    var sideCompactEvery: Int = Int.MaxValue
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master("local[4]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val st = new State(spark, new Tracer(), StorageMeter.install(spark))
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, "UTF-8"))
    var running = true
    reply(mapper.createObjectNode().put("ready", true))
    while (running) {
      val line = in.readLine()
      if (line == null) running = false
      else if (line.trim.nonEmpty) {
        val req = mapper.readTree(line)
        val out =
          try handle(st, req)
          catch {
            case e: Throwable =>
              mapper.createObjectNode().put("error", s"${e.getClass.getName}: ${e.getMessage}")
          }
        if (req.path("cmd").asText() == "quit") running = false
        reply(out)
      }
    }
    teardown(st)
    spark.stop()
    // the server's idle request threads are not daemons; do not wait
    // out their keep-alive
    System.exit(0)
  }

  private def reply(n: JsonNode): Unit = {
    System.out.println("@@ " + mapper.writeValueAsString(n))
    System.out.flush()
  }

  private def handle(st: State, req: JsonNode): JsonNode = req.path("cmd").asText() match {
    case "setup"       => setup(st, req)
    case "teardown"    => teardown(st); mapper.createObjectNode()
    case "stats"       => stats(st, req.path("resetPeak").asBoolean(false))
    case "trace"       =>
      if (req.path("on").asBoolean()) st.tracer.attach(st.spark) else st.tracer.detach(st.spark)
      mapper.createObjectNode()
    case "inproc"      => inproc(st, req.path("query").asText())
    case "replica"     => replica(st, req.path("dir").asText())
    case "side_update" => sideUpdate(st, req)
    case "batch"       => batch(st, req)
    case "oracle"      => oracle(req)
    case "quit"        => mapper.createObjectNode()
    case other         => sys.error(s"unknown command $other")
  }

  // ---- set-up -------------------------------------------------------

  /** Build the workload's store from the tables in `data`.
    * Serving workloads also start a server on an OS-assigned port;
    * `sparql_rw` serves a journal under `work` compacting every
    * `compactEvery` commits. */
  private def setup(st: State, req: JsonNode): JsonNode = {
    val workload = req.path("workload").asText()
    val data = req.path("data").asText()
    val out = mapper.createObjectNode()
    workload match {
      case "sparql_read" =>
        st.graft = Graft.ofQuads(st.spark, TpchRdf.quads(st.spark, data))
        st.server = new SparqlServer(st.graft).start()
        out.put("address", st.server.address)
      case "sparql_rw" =>
        val work = req.path("work").asText()
        val every = req.path("compactEvery").asInt()
        st.graft = Graft.ofQuads(st.spark, TpchRdf.quads(st.spark, data))
        st.server = SparqlServer.durable(st.graft, s"$work/journal",
          autoCompactEvery = every).start()
        out.put("address", st.server.address)
        out.put("journal", s"$work/journal")
        st.sideCompactEvery = every
      case "analytics_batch" =>
        // the batch reads its tables through SparkEntry.queries; set-up
        // is the Spark-side load of every table it scans
        Seq("region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "documents", "embeddings", "events")
          .foreach(t => TpchRdf.table(st.spark, data, t).schema)
      case other => sys.error(s"unknown workload $other")
    }
    out
  }

  private def teardown(st: State): Unit = {
    if (st.server != null) st.server.stop()
    st.server = null
    st.graft = null
    st.side = null
    st.sideConn = null
    st.spark.catalog.clearCache()
    st.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---- observation -------------------------------------------------

  /** Storage and listener counters; `resetPeak` starts a new peak. */
  private def stats(st: State, resetPeak: Boolean): JsonNode = {
    val sc = st.spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    val infos = sc.getRDDStorageInfo
    val out = mapper.createObjectNode()
    out.put("cached_bytes", infos.map(i => i.memSize + i.diskSize).sum)
    out.put("peak_cached_bytes", st.storage.peak)
    if (resetPeak) st.storage.reset()
    out.put("cached_rdds", infos.count(_.numCachedPartitions > 0))
    out.put("stored_rdds", st.storage.storedRdds)
    val ids = out.putArray("persisted_rdd_ids")
    sc.getPersistentRDDs.keys.toSeq.sorted.foreach(id => ids.add(id))
    out.set[JsonNode]("counters", st.tracer.snapshot())
    out
  }

  /** The store a request replays against in-process: the replica
    * repository's head when there is one (one connection per version,
    * as the durable server caches it), else the served store. */
  private def replayStore(st: State): Graft =
    if (st.side == null) st.graft
    else {
      if (st.sideConn == null || st.sideConn._1 != st.side.version)
        st.sideConn = (st.side.version, st.side.connection())
      st.sideConn._2
    }

  /** One query run in-process, layer by layer: `Parser.parse`, then
    * `Graft.query` until the DataFrame is returned (the build, with any
    * work graft does eagerly while building), then the full result
    * materialized through a `noop` sink, then the serializer the server
    * would use collected, minus a plain collect of the same rows. */
  private def inproc(st: State, q: String): JsonNode = {
    val g = replayStore(st)
    val out = mapper.createObjectNode()
    org.apache.spark.ListenerDrain(st.spark.sparkContext)
    val c0 = st.tracer.counters()
    val t0 = now()
    val ast = Parser.parse(q)
    val t1 = now()
    val df = g.query(ast)
    val t2 = now()
    df.write.format("noop").mode("overwrite").save()
    val t3 = now()
    org.apache.spark.ListenerDrain(st.spark.sparkContext)
    val c1 = st.tracer.counters()
    val (plainMs, serMs, rows) = ast match {
      case _: Ask => (0.0, 0.0, 1L)
      case _ =>
        val ser: DataFrame = ast match {
          case _: Construct | _: Describe | _: DescribeWhere => Serializer.toNTriples(df)
          case _ => Serializer.sparqlJsonBindings(df)
        }
        val a = now(); val n = df.collect().length.toLong
        val b = now(); ser.collect()
        val c = now()
        (ms(a, b), ms(b, c), n)
    }
    out.put("parse_ms", ms(t0, t1))
    out.put("build_ms", ms(t1, t2))
    out.put("exec_ms", ms(t2, t3))
    out.put("plain_collect_ms", plainMs)
    out.put("serialize_collect_ms", serMs)
    out.put("rows", rows)
    out.set[JsonNode]("exec_counters", Tracer.diff(c0, c1))
    out
  }

  /** Seed a replica repository under `dir` with the served store, for a
    * traced run to commit to and read from in-process. Its first
    * merged view is built here, as the server's was in its warm-up. */
  private def replica(st: State, dir: String): JsonNode = {
    st.side = Repository.create(st.spark, dir)
    st.side.journal.append(st.graft.store.quads)
    replayStore(st).query(Parser.parse("ASK { ?s ?p ?o }")).write.format("noop")
      .mode("overwrite").save()
    mapper.createObjectNode()
  }

  /** Apply one update to the replica repository with the commit timed,
    * compacting on the server's schedule. */
  private def sideUpdate(st: State, req: JsonNode): JsonNode = {
    val repo = st.side
    val out = mapper.createObjectNode()
    val t0 = now()
    repo.update(req.path("update").asText())
    val t1 = now()
    val compacted = repo.version - repo.journal.lastCompacted >= st.sideCompactEvery
    if (compacted) repo.compact()
    val t2 = now()
    out.put("commit_ms", ms(t0, t1))
    out.put("compact_ms", ms(t1, t2))
    out.put("compacted", compacted)
    out
  }

  // ---- analytics batch ----------------------------------------------

  /** Run the named `SparkEntry.queries` in order. Each result is
    * materialized in full, through a `noop` sink or, when `out` is
    * set, as parquet for the oracle check. Each query reports its
    * times, its listener counters and the peak of cached blocks while
    * it ran. A query that throws is reported with its error and the
    * batch goes on. */
  private def batch(st: State, req: JsonNode): JsonNode = {
    val data = req.path("data").asText()
    val dest = Option(req.path("out").asText(null)).filter(_.nonEmpty)
    val res = mapper.createArrayNode()
    req.path("queries").elements().asScala.map(_.asText()).foreach { name =>
      val o = res.addObject().put("name", name)
      org.apache.spark.ListenerDrain(st.spark.sparkContext)
      val c0 = st.tracer.counters()
      st.storage.reset()
      val t0 = now()
      try {
        st.spark.sparkContext.setJobDescription(s"perfbench $name")
        val df = SparkEntry.queries(name)(st.spark, data)
        val t1 = now()
        dest match {
          case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
          case None    => df.write.format("noop").mode("overwrite").save()
        }
        val t2 = now()
        o.put("build_ms", ms(t0, t1)).put("wall_ms", ms(t0, t2))
      } catch {
        case e: Throwable => o.put("error", s"${e.getClass.getName}: ${e.getMessage}")
      } finally st.spark.sparkContext.setJobDescription(null)
      org.apache.spark.ListenerDrain(st.spark.sparkContext)
      o.put("peak_cached_bytes", st.storage.peak)
      o.set[JsonNode]("counters", Tracer.diff(c0, st.tracer.counters()))
    }
    mapper.createObjectNode().set[JsonNode]("results", res)
  }

  private def oracle(req: JsonNode): JsonNode = {
    val out = mapper.createObjectNode()
    out.put("triples_cte", TpchRdf.oracleCte)
    val sql = out.putObject("sql")
    val all = SparkEntry.oracleSql
    req.path("queries").elements().asScala.map(_.asText())
      .foreach(n => all.get(n).foreach(s => sql.put(n, s)))
    out
  }
}
