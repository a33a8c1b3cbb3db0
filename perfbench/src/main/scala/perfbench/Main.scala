package perfbench

import graft.SparkEntry
import graft.cypher.{Compiler, GraphSession, GraphStore, Parser}
import graft.functions.Ivf
import graft.operators.{Dedup, GraphQueries, Pipeline, Similarity}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one timed operation reported; `traced` is its time inside spans. */
final case class OpSample(name: String, kind: String, seconds: Double, ok: Boolean,
    traced: Double = 0.0)

/** A benchmark workload: a repeatable set-up and a stream of passes. */
trait Workload {
  /** Untimed preparation of set-up round `round` (file copies, clean-up). */
  def stage(round: Int): Unit = ()
  /** Build the workload's fixture from scratch; `round` names a fresh copy. */
  def setup(round: Int): Unit
  /** Untimed work at a pass boundary (cache resets). */
  def beforePass(pass: Int): Unit = ()
  def pass(pass: Int): Seq[OpSample]
  /** End-of-run checks, outside every timed interval. */
  def finish(): Seq[OpSample] = Nil
  /** Layer metrics of the last pass that only the workload can see. */
  def passMetrics(): Map[String, Metric] = Map.empty
}

/** Entry point. One run: set up several times, then time passes for the
  * requested seconds, and write a JSON summary for `run.py`.
  *
  * Arguments: --workload --data --work --seconds --trace --seed --cpus --out.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val attribution = new Attribution
    if (trace) spark.sparkContext.addSparkListener(new SpanListener(attribution))
    val spans = new Spans(trace,
      onActive = s => spark.sparkContext.setLocalProperty(SpanListener.Key, s))
    val seed = a("seed").toLong
    val wl: Workload = a("workload") match {
      case "graph_read" =>
        val ids = Seq("q31", "q33", "q34", "q35") ++
          (1 to 34).map(i => s"g$i") ++ (1 to 4).map(i => s"x$i") ++
          Seq("s1", "s3", "s4", "s6", "s7", "s8", "s9")
        val byId = SparkEntry.queries.keys.map(n => n.takeWhile(_ != '_') -> n).toMap
        // one shuffled order for every seed: each pass runs in a fresh JVM,
        // and a seed-dependent order moves first-execution costs between
        // rows, which spread the op percentiles 15-21 % from run to run
        new QueryTable(spark, spans, Paths.get(a("data")), work,
          new scala.util.Random(0).shuffle(ids.map(byId)))
      case "store_write" =>
        new StoreWrite(spark, spans, work, seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val result = new Harness(spark, wl, spans, attribution, cpus).run(a("seconds").toDouble)
    Files.write(Paths.get(a("out")), Json.obj(result).getBytes(UTF_8))
    spark.stop()
  }
}

/** The timed loop shared by every workload. */
final class Harness(spark: SparkSession, wl: Workload, spans: Spans,
    attribution: Attribution, cpus: Int) {
  private val s = new Samples

  private def now = System.nanoTime()

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * shuffle and broadcast blocks asynchronously once their references
    * are collected, so collect, give it a moment, and collect again.
    */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(seconds: Double): Map[String, Any] = {
    for (round <- 1 to Harness.Setups) {
      wl.stage(round)
      val t0 = now
      wl.setup(round)
      val secs = (now - t0) / 1e9
      // the first round also pays class loading and JIT warm-up, whose
      // cost swings with the machine's load; setup_s is the warm rounds'
      if (round > 1) s.add("setup_s", "s", secs)
      System.err.println(f"[perfbench] setup $round: $secs%.3f s")
    }
    val ops = mutable.ArrayBuffer.empty[OpSample]
    val start = now
    var pass = 0
    while (pass == 0 || (now - start) / 1e9 < seconds) {
      pass += 1
      wl.beforePass(pass)
      // events of the set-up's last jobs may still be queued
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spans.reset(); attribution.drain()
      val got = wl.pass(pass)
      ops ++= got
      val passS = got.map(_.seconds).sum
      System.err.println(f"[perfbench] pass $pass: $passS%.3f s; " +
        got.map(o => f"${o.name.takeWhile(_ != '_')}=${o.seconds}%.2f").mkString(" "))
      s.add("pass_s", "s", passS)
      s.add("retained_heap_mb", "MB", retainedHeapMb())
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      layerSample(passS)
      wl.passMetrics().foreach { case (n, m) => layer(n, m.unit, m.value) }
      if (got.nonEmpty) layer("trace.span_cover_min", "ratio",
        got.map(o => if (o.seconds > 0) o.traced / o.seconds else 1.0).min)
    }
    ops ++= wl.finish()
    val lat = ops.filter(_.kind != "check").map(_.seconds).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    Seq("setup_s", "pass_s", "retained_heap_mb").foreach(n => s.median(n).foreach(metrics(n) = _))
    metrics("op_p50_s") = Metric(Stats.percentile(lat, 50), "s", lat.size)
    metrics("op_p90_s") = Metric(Stats.percentile(lat, 90), "s", lat.size)
    val reads = ops.filter(_.kind == "read").map(_.seconds).toSeq
    metrics("read_p50_s") = Metric(Stats.percentile(reads, 50), "s", reads.size)
    metrics("read_p90_s") = Metric(Stats.percentile(reads, 90), "s", reads.size)
    layerNames.foreach(n => s.median(n).foreach(metrics(n) = _))
    val failures = ops.filterNot(_.ok).groupBy(_.name).map { case (n, xs) => n -> xs.size }
    Map(
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "failures" -> failures,
      "executions" -> ops.groupBy(_.name).map { case (n, xs) => n -> xs.size },
      "passes" -> pass,
      "metrics" -> metrics.map { case (n, m) =>
        n -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) },
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")))
  }

  private val layerNames = mutable.LinkedHashSet.empty[String]

  private def layer(name: String, unit: String, v: Double): Unit = {
    layerNames += name
    s.add(name, unit, v)
  }

  /** Per-layer figures of the pass that just ended (zero when untraced). */
  private def layerSample(passS: Double): Unit = {
    val self = spans.selfNanos
    val (bySpan, broadcast) = attribution.drain()
    def selfS(span: String) = self.getOrElse(span, 0L) / 1e9
    def count(span: String)(f: Attribution#Totals => Long) = bySpan.get(span).map(f).getOrElse(0L).toDouble
    def all(f: Attribution#Totals => Long) = bySpan.values.map(f).sum.toDouble
    layer("parser.parse_s", "s", selfS("parser.parse"))
    layer("compiler.build_s", "s", selfS("compiler.build"))
    layer("compiler.jobs", "count", count("compiler.build")(_.jobs))
    layer("catalyst.analyze_s", "s", selfS("catalyst.analyze"))
    layer("catalyst.optimize_s", "s", selfS("catalyst.optimize"))
    layer("catalyst.plan_s", "s", selfS("catalyst.plan"))
    layer("exec.run_s", "s", selfS("exec.run"))
    layer("exec.jobs", "count", count("exec.run")(_.jobs))
    layer("exec.stages", "count", count("exec.run")(_.stages))
    layer("exec.tasks", "count", count("exec.run")(_.tasks))
    val taskS = all(_.taskNanos) / 1e9
    layer("exec.task_s", "s", taskS)
    layer("exec.core_busy_frac", "ratio", if (passS > 0) taskS / (passS * cpus) else 0.0)
    layer("exec.shuffle_write_bytes", "bytes", all(_.shuffleWrite))
    layer("exec.shuffle_read_bytes", "bytes", all(_.shuffleRead))
    layer("exec.spill_bytes", "bytes", all(_.spill))
    layer("exec.broadcast_bytes", "bytes", broadcast.toDouble)
    layer("exec.gc_s", "s", all(_.gcNanos) / 1e9)
    def share(span: String) = if (passS > 0) selfS(span) / passS else 0.0
    layer("graphstore.write_frac", "ratio", share("graphstore.write"))
    layer("graphstore.compact_frac", "ratio", share("graphstore.compact"))
    layer("graphstore.jobs", "count",
      count("graphstore.write")(_.jobs) + count("graphstore.compact")(_.jobs))
    layer("trace.pass_s", "s", passS)
  }
}

object Harness {
  /** Set-up rounds per run; setup_s is the median of rounds 2 and later.
    * Three keep a run short enough for twenty-odd runs per workload within
    * the hour on a slow machine.
    */
  val Setups = 3

  /** Plan a built DataFrame and collect its full result, each Catalyst
    * phase and the execution in its own span. A Dataset analyses its plan
    * when it is made, inside `compiler.build`; Catalyst's phase tracker
    * timed that, so its time moves to `catalyst.analyze`.
    */
  def collect(spans: Spans, df: DataFrame): Array[Row] = {
    val qe = df.queryExecution
    qe.tracker.phases.get(QueryPlanningTracker.ANALYSIS) match {
      case Some(p) => spans.shift("compiler.build", "catalyst.analyze", p.durationMs * 1000000L)
      case None => spans("catalyst.analyze")(qe.analyzed)
    }
    spans("catalyst.optimize")(qe.optimizedPlan)
    spans("catalyst.plan")(qe.executedPlan)
    spans("exec.run")(df.collect())
  }
}

/** A workload over rows of the query table (`SparkEntry.queries`).
  * Rows whose closure is a plain Cypher string over the TPC-H or document
  * graph run as `Parser.parse` then `Compiler.compileQuery`, so parse and
  * build time separate; every other row is built by its own closure.
  * Each row is timed until its full result is collected on the client.
  * The first pass dumps each result for the oracle check in `run.py`;
  * later passes must return the same number of rows.
  */
final class QueryTable(spark: SparkSession, spans: Spans, data: Path, work: Path,
    names: Seq[String]) extends Workload {
  private val queries = SparkEntry.queries
  private val cypher: Map[String, (String, Boolean)] =
    names.flatMap(n => QueryTable.cypherOf(queries(n)).map(n -> _)).toMap
  private var dir: Path = data
  private val rowCounts = mutable.Map.empty[String, Int]
  private val results = work.resolve("results")

  private val ivfCounters = Seq(
    "ivf.kmeans_builds" -> Ivf.kmeansBuilds,
    "ivf.encode_builds" -> Ivf.encodeBuilds,
    "ivf.assign_builds" -> Ivf.assignBuilds)
  private var ivfAtPass = Seq.empty[Long]

  /** A fresh copy of the input tables, so no set-up reuses another's. */
  override def stage(round: Int): Unit = {
    dir = work.resolve(s"tables-$round")
    Files.createDirectories(dir)
    Files.list(data).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
  }

  /** The graph and one label count (the cold table listing and footer
    * reads every later query reuses), and the s8 ANN sidecar index of the
    * embeddings, which passes reopen instead of encoding the corpus.
    */
  def setup(round: Int): Unit = {
    val g = GraphQueries.tpchGraph(spark, dir.toString)
    new Compiler(g).run("MATCH (c:Customer) RETURN count(*) AS n").collect()
    if (names.contains(QueryTable.SidecarRow))
      queries(QueryTable.SidecarRow)(spark, dir.toString).collect()
    clearCaches()
  }

  /** Operator session caches (ANN results within a pass) and persisted
    * DataFrames, as `graft.Bench` clears them.
    */
  private def clearCaches(): Unit = {
    Similarity.clearSessionCache()
    Dedup.clearSessionCache()
    Pipeline.clearSessionCache()
    spark.catalog.clearCache()
  }

  override def beforePass(pass: Int): Unit = {
    clearCaches()
    ivfAtPass = ivfCounters.map(_._2.get)
  }

  /** Ivf index builds the pass ran (the public counters' increase). */
  override def passMetrics(): Map[String, Metric] =
    ivfCounters.zip(ivfAtPass).map { case ((n, c), before) =>
      n -> Metric((c.get - before).toDouble, "count", 1)
    }.toMap

  def pass(pass: Int): Seq[OpSample] = names.map { name =>
    val c0 = spans.coveredNanos
    val t0 = System.nanoTime()
    val rows = try Some(run(name)) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val traced = (spans.coveredNanos - c0) / 1e9
    spark.catalog.clearCache()
    val ok = rows.exists { r =>
      if (pass == 1) dump(name, r)
      rowCounts.getOrElseUpdate(name, r.length) == r.length
    }
    OpSample(name, "read", secs, ok, traced)
  }

  private def run(name: String): Array[Row] = {
    val d = dir.toString
    val df: DataFrame = cypher.get(name) match {
      case Some((text, docGraph)) =>
        val g = spans("compiler.build")(
          if (docGraph) GraphQueries.docGraph(spark, d) else GraphQueries.tpchGraph(spark, d))
        val ast = spans("parser.parse")(Parser.parse(text))
        spans("compiler.build")(new Compiler(g).compileQuery(ast))
      case None => spans("compiler.build")(queries(name)(spark, d))
    }
    Harness.collect(spans, df)
  }

  private def dump(name: String, rows: Array[Row]): Unit = {
    Files.createDirectories(results)
    val lines = rows.iterator.map(_.json).toSeq
    Files.write(results.resolve(s"$name.jsonl"), lines.asJava, UTF_8)
  }

  override def finish(): Seq[OpSample] = {
    // oracle SQL for every row that has one, for the DuckDB check
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.createDirectories(results)
    Files.write(results.resolve("oracle_sql.json"), Json.obj(oracles).getBytes(UTF_8))
    Nil
  }
}

object QueryTable {
  /** The row whose ANN index (a sidecar next to the corpus) set-up builds. */
  val SidecarRow = "s8_pq_adc_ann"

  /** The Cypher text and graph of a query-table row built by the
    * `GraphQueries.cy`/`cyDoc` helpers, read from the closure's serialized
    * form; None for any other row.
    */
  def cypherOf(fn: AnyRef): Option[(String, Boolean)] =
    try {
      val m = fn.getClass.getDeclaredMethod("writeReplace")
      m.setAccessible(true)
      m.invoke(fn) match {
        case sl: java.lang.invoke.SerializedLambda if sl.getCapturedArgCount == 1 =>
          (sl.getImplMethodName, sl.getCapturedArg(0)) match {
            case (impl, q: String) if impl.startsWith("$anonfun$cy$") => Some((q, false))
            case (impl, q: String) if impl.startsWith("$anonfun$cyDoc$") => Some((q, true))
            case _ => None
          }
        case _ => None
      }
    } catch { case _: ReflectiveOperationException => None }
}

/** Durable-graph workload: a seed-generated statement stream against a
  * GraphSession store, every read and the final state checked against
  * [[StoreModel]].
  */
final class StoreWrite(spark: SparkSession, spans: Spans, work: Path, seed: Long)
    extends Workload {
  import Stmt._
  import StoreWrite._
  import spark.implicits._

  private val Graph = "bench"
  private var gs: GraphSession = _
  private var root: Path = _
  private var model: StoreModel = _
  private val rng = new java.util.Random(seed)
  private val seen = mutable.Map.empty[String, Long]
  private var payload, written, filesWritten, listed, kept = 0L
  private var lastVersion = 0L

  override def stage(round: Int): Unit = {
    if (root != null) deleteTree(root)
    root = work.resolve(s"store-$round")
  }

  def setup(round: Int): Unit = {
    gs = new GraphSession(spark)
    gs.createGraph(Graph, root.toString)
    model = new StoreModel
    val per = nItems / chunks
    for (c <- 0 until chunks)
      gs.run(s"UNWIND range(${c * per}, ${(c + 1) * per - 1}) AS i " +
        "CREATE (:Item {k: i, v: 'v' + toString(i), n: i % 1000})").collect()
    (0L until per.toLong * chunks).foreach(k => model.loadItem(k, s"v$k", k % 1000))
    val feed = (0 until nFeed).map(k => (k.toLong, s"t$k"))
    gs.ingestVertexBatch("Feed", "k", feed.toDF("k", "t"), "load", 0L)
    feed.foreach { case (k, t) => model.loadFeed(k, t) }
    val edges = (0 until nEdges).map { e =>
      val src = (e.toLong * 7919L) % nFeed
      (e.toLong, src, (src * 31L + 17L) % nFeed)
    }
    gs.ingestEdgeBatch("FOLLOWS", "e", "Feed", "src", "Feed", "dst",
      edges.toDF("e", "src", "dst"), "load_edges", 0L)
    edges.foreach(e => model.loadEdge(e._2))
    seen.clear(); scanNewFiles()
    lastVersion = GraphStore.latestVersion(root.toString).getOrElse(0L)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  /** Sum the files that appeared in the store since the last scan. */
  private def scanNewFiles(): (Long, Long) = {
    var bytes, files = 0L
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val key = root.relativize(f).toString
      if (!seen.contains(key) && !key.startsWith("_")) {
        val n = Files.size(f); seen(key) = n; bytes += n; files += 1
      }
    }
    (bytes, files)
  }

  private def storeBytes: Long =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  override def beforePass(pass: Int): Unit = {
    payload = 0; written = 0; filesWritten = 0; listed = 0; kept = 0
  }

  def pass(pass: Int): Seq[OpSample] =
    model.nextPass(rng, nFeed, bigSetWidth = 3000, compactEvery = 9).map { st =>
      val text = cypherText(st)
      // the session parses the text again inside run(); parsing it here,
      // outside the timed interval, gives the Parser layer's own cost
      text.foreach(q => spans("parser.parse")(Parser.parse(q)))
      gs.graph.lastPruneInfo = None
      val c0 = spans.coveredNanos
      val t0 = System.nanoTime()
      val result = try Some(execute(st, text)) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${st.kind} failed: $e ($st)")
          None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val traced = (spans.coveredNanos - c0) / 1e9
      val ok = result.exists(matches(st, _))
      if (st.write) {
        payload += st.payload
        val (b, f) = scanNewFiles(); written += b; filesWritten += f
      } else {
        gs.graph.lastPruneInfo.foreach { case (k, t) => kept += k; listed += t }
      }
      if (!ok) System.err.println(s"[perfbench] ${st.kind} wrong result: $st")
      OpSample(st.kind, if (st.write) "write" else "read", secs, ok, traced)
    }

  private def rows(q: String): Array[Row] =
    Harness.collect(spans, spans("compiler.build")(gs.run(q)))

  private def str(x: Any): Option[String] = Option(x).map(_.toString)
  private def num(x: Any): Option[Long] = Option(x).map(_.toString.toDouble.toLong)

  /** Cypher text of a statement the session runs as a query; None for the
    * upsert batch (a DataFrame) and COMPACT GRAPH (session DDL).
    */
  private def cypherText(st: Stmt): Option[String] = st match {
    case Create(k, v, n) => Some(s"CREATE (:Item {k: $k, v: '$v', n: $n})")
    case SetV(k, v) => Some(s"MATCH (p:Item) WHERE p.k = $k SET p.v = '$v'")
    case Delete(k) => Some(s"MATCH (p:Item) WHERE p.k = $k DELETE p")
    case BigSet(lo, hi, _) => Some(s"MATCH (p:Item) WHERE p.k >= $lo AND p.k < $hi SET p.n = p.n + 1")
    case Merge(k, v) => Some(s"MERGE (p:Item {k: $k}) SET p.v = '$v'")
    case PointRead(k, _) => Some(s"MATCH (p:Item) WHERE p.k = $k RETURN p.v AS v, p.n AS n")
    case _: Aggregate => Some("MATCH (p:Item) RETURN count(*) AS c, sum(p.n) AS s")
    case FeedRead(k, _) => Some(s"MATCH (f:Feed) WHERE f.k = $k RETURN f.t AS t")
    case EdgeRead(k, _) =>
      Some(s"MATCH (a:Feed)-[:FOLLOWS]->(b:Feed) WHERE a.k = $k RETURN count(*) AS c")
    case _: Upsert | Compact => None
  }

  /** Run one statement; the rows a read returned (none for an upsert). */
  private def execute(st: Stmt, text: Option[String]): Array[Row] = st match {
    case Upsert(b, rs) =>
      spans("graphstore.write")(
        gs.ingestVertexUpsertBatch("Feed", "k", rs.toDF("k", "t"), "upsert", b))
      Array.empty
    case Compact => spans("graphstore.compact")(gs.run(s"COMPACT GRAPH $Graph").collect())
    case w if w.write => spans("graphstore.write")(gs.run(text.get).collect())
    case _ => rows(text.get)
  }

  /** Whether a read returned the model's answer; writes are checked at the
    * end through the final state.
    */
  private def matches(st: Stmt, r: Array[Row]): Boolean = st match {
    case PointRead(_, expect) => r.map(x => (str(x.get(0)), num(x.get(1)))).toSeq == expect.toSeq
    case Aggregate(c, sum) =>
      r.length == 1 && num(r(0).get(0)).contains(c) && num(r(0).get(1)).getOrElse(0L) == sum
    case FeedRead(_, expect) => r.map(x => str(x.get(0))).toSeq == expect.map(Some(_)).toSeq
    case EdgeRead(_, expect) => r.length == 1 && num(r(0).get(0)).contains(expect)
    case _ => true
  }

  override def passMetrics(): Map[String, Metric] = {
    val v = GraphStore.latestVersion(root.toString).getOrElse(0L)
    val versions = v - lastVersion
    lastVersion = v
    val catalog = Files.readAllLines(root.resolve(s"v$v/catalog.txt"), UTF_8).asScala
    val manifest = catalog.filter(l => l.startsWith("file ") || l.startsWith("dv"))
    val tombstones = catalog.filter(_.startsWith("dv"))
      .flatMap(_.split(" ").lastOption.flatMap(_.toLongOption)).sum
    Map(
      "store.write_amp" -> Metric(if (payload > 0) written.toDouble / payload else 0.0, "ratio", 1),
      "store.space_amp" -> Metric(storeBytes.toDouble / model.liveBytes, "ratio", 1),
      "graphstore.bytes_written" -> Metric(written.toDouble, "bytes", 1),
      "graphstore.files_written" -> Metric(filesWritten.toDouble, "count", 1),
      "graphstore.versions" -> Metric(versions.toDouble, "count", 1),
      "graphstore.files_listed" -> Metric(listed.toDouble, "count", 1),
      "graphstore.files_read" -> Metric(kept.toDouble, "count", 1),
      "graphstore.prune_frac" -> Metric(if (listed > 0) 1.0 - kept.toDouble / listed else 0.0, "ratio", 1),
      "graphstore.tombstones" -> Metric(tombstones.toDouble, "count", 1),
      "graphstore.manifest_lines" -> Metric(manifest.size.toDouble, "count", 1))
  }

  /** Final state: every Item and Feed row equals the model. */
  override def finish(): Seq[OpSample] = {
    val t0 = System.nanoTime()
    val items = gs.run("MATCH (p:Item) RETURN p.k AS k, p.v AS v, p.n AS n").collect()
      .map(r => (num(r.get(0)).get, (str(r.get(1)), num(r.get(2))))).toMap
    val feed = gs.run("MATCH (f:Feed) RETURN f.k AS k, f.t AS t").collect()
      .map(r => (num(r.get(0)).get, r.getString(1))).toMap
    val ok = items == model.items.toMap && feed == model.feed.toMap
    if (!ok) System.err.println(s"[perfbench] final state differs from the model: " +
      s"items ${items.size} vs ${model.items.size}, feed ${feed.size} vs ${model.feed.size}")
    deleteTree(root)
    Seq(OpSample("final_state", "check", (System.nanoTime() - t0) / 1e9, ok))
  }
}

object StoreWrite {
  /** Item rows bulk-loaded in set-up by `chunks` CREATE statements, one
    * commit each; Feed rows and FOLLOWS edges load as one batch each.
    */
  val nItems = 20000
  val chunks = 4
  val nFeed = 20000
  val nEdges = 10000
}

/** Minimal JSON writer for the run summary. */
object Json {
  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
