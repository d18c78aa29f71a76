package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.SparkEntry
import graft.analytics.{LlmOps, Relational}
import graft.model.Transaction
import graft.pipeline.MergeSortSink
import graft.sources._

/** The JVM side of the benchmark. It runs one workload over inputs that
  * `run.py` generated, times calls into the program's public functions, checks
  * every output, and writes raw measurements as one JSON object to `out`.
  *
  * Arguments are `key=value`: workload, work (a private temp dir for this
  * run), out, trace (0|1), seconds, setups, cpus, plus per-workload keys
  * (manifest, appends, cycle for ledger_appends; data, only, every for
  * query_surface).
  */
object Harness {

  private val LineRe = "^(BUY|SELL) \\d{2}/\\d{2}/\\d{4} \\S+ \\d+(\\.\\d+)? \\d+(\\.\\d+)? \\d+(\\.\\d+)?$".r

  final case class Export(role: String, dialect: String, path: String, expected: IndexedSeq[String])

  /** What a timed loop measured: per-pass wall and CPU, per-operation
    * latency, and the sink lines written for the fresh lines appended. */
  final class Loop {
    val passS, passCpuS, opMs = mutable.ArrayBuffer[Double]()
    var sinkLines, fresh = 0L
  }

  final class Run(val opts: Map[String, String]) {
    val work: String = opts("work")
    val trace: Boolean = opts.getOrElse("trace", "0") == "1"
    val seconds: Double = opts.getOrElse("seconds", "10").toDouble
    val setups: Int = opts.getOrElse("setups", "3").toInt
    val cpus: String = opts.getOrElse("cpus", "4")
    val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
    val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
    val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
    var tracer = new Tracer(false, "untraced")

    def fail(what: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse("").linesIterator.find(_.nonEmpty).getOrElse("")
      failures += s"$what: ${e.getClass.getName}: $msg".take(400)
    }

    /** The session settings of the entry point a workload models: graft.Main
      * for the ledger, graft.Bench for query_surface. They agree at
      * SPARK_GRAFT_CPUS = nproc; the warehouse and local dirs are this run's. */
    val settings: Seq[(String, String)] = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> s"$work/warehouse",
      "spark.local.dir" -> s"$work/local")

    def newSession(): SparkSession = {
      val b = SparkSession.builder().appName("perfbench")
      settings.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    /** Set up `setups` times (session, function registration, the workload's
      * first operation) and keep the last session. Reports each attempt; the
      * first is the cold one, the cost of a fresh invocation, and the rest
      * re-create the session in a warm JVM. */
    def setUp(first: (SparkSession, Int) => Unit): SparkSession = {
      val starts = mutable.ArrayBuffer[Double]()
      val warmups = mutable.ArrayBuffer[Double]()
      var spark: SparkSession = null
      for (i <- 0 until setups) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = newSession()
        val t1 = System.nanoTime()
        org.apache.spark.sql.graft.GraftFunctions.register(spark)
        first(spark, i)
        val t2 = System.nanoTime()
        starts += (t1 - t0) / 1e9
        warmups += (t2 - t1) / 1e9
      }
      out("setup_start_s") = starts.toSeq
      out("setup_warmup_s") = warmups.toSeq
      out("spark_version") = spark.version
      spark
    }

    def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

    /** Wall and process CPU (all threads) of `body`. */
    def timed[A](body: => A): (A, Double, Double) = {
      val c0 = cpuNs(); val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
    }

    /** Runs whole passes until `minSeconds` have passed (at least one). */
    def passes(minSeconds: Double)(body: (Loop, Int) => Unit): Loop = {
      val l = new Loop
      val start = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - start) / 1e9 < minSeconds) {
        val (_, wall, cpu) = timed(body(l, pass))
        l.passS += wall
        l.passCpuS += cpu
        pass += 1
      }
      l
    }

    def report(l: Loop): Unit = {
      out("pass_s") = l.passS.toSeq
      out("pass_cpu_s") = l.passCpuS.toSeq
      out("op_ms") = l.opMs.toSeq
    }

    def traced(run: String, spark: SparkSession): Tracer = {
      val t = new Tracer(true, run)
      t.attach(spark.sparkContext)
      t
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val run = new Run(opts)
    val spark = opts("workload") match {
      case "ledger_appends" => ledgerAppends(run)
      case "query_surface" => querySurface(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    run.out("peak_rss_mb") = peakRssMb()
    run.out("java_version") = System.getProperty("java.version")
    run.out("scala_version") = scala.util.Properties.versionNumberString
    run.out("settings") = run.settings.toMap
    run.out("layers") = run.layers
    run.out("failures") = run.failures.toSeq
    Files.writeString(Paths.get(opts("out")), Json(run.out) + "\n", UTF_8)
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ------------------------------------------------------------ ledger ---

  def readManifest(path: String): Seq[Export] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(role, dialect, input, expected) = l.split("\t")
      Export(role, dialect, input, Files.readAllLines(Paths.get(expected), UTF_8).asScala.toIndexedSeq)
    }.toSeq

  /** The source call graft.Main makes for each broker. */
  def read(spark: SparkSession, e: Export): DataFrame = e.dialect match {
    case "freetrade" => FreetradeSource.readFile(spark, e.path)
    case "ii" => IISource.readFile(spark, e.path)
    case "fidelity" => FidelitySource.readFile(spark, e.path)
    case "bullionvault" => BullionVaultSource.readFolder(spark, e.path)
  }

  private def dateKey(line: String): String = {
    val d = line.split(" ")(1)
    d.substring(6) + d.substring(3, 5) + d.substring(0, 2)
  }

  /** A sink is correct when it holds exactly the expected lines (as a
    * multiset), each in the `KIND DD/MM/YYYY ASSET n n n` format, in
    * chronological order. Returns the first problem found. */
  def checkSink(lines: IndexedSeq[String], expected: Seq[String]): Option[String] = {
    lazy val badFormat = lines.indexWhere(l => LineRe.findFirstIn(l).isEmpty)
    lazy val badOrder = (1 until lines.size).find(i => dateKey(lines(i - 1)) > dateKey(lines(i)))
    if (lines.size != expected.size) Some(s"${lines.size} lines, expected ${expected.size}")
    else if (badFormat >= 0) Some(s"bad format: ${lines(badFormat)}")
    else if (badOrder.isDefined) Some(s"out of order at line ${badOrder.get}")
    else {
      val diff = lines.sorted.zip(expected.sorted).find { case (a, b) => a != b }
      diff.map { case (a, b) => s"line '$a' where '$b' was expected" }
    }
  }

  /** Appends one export to `sink` exactly as graft.Main does. Traced, the
    * public steps of `mergeSortWrite` run one at a time, each in its span, and
    * each layer's output is persisted and counted at its boundary so that no
    * span absorbs lazy upstream work. */
  def append(run: Run, spark: SparkSession, e: Export, sink: String, i: Int): Unit = {
    val tr = run.tracer
    if (!tr.on) MergeSortSink.mergeSortWrite(spark, Transaction.toLines(read(spark, e)), sink)
    else tr.span(s"append-$i", "op") {
      val df = tr.span("read", "sources") { val d = read(spark, e).persist(); d.count(); d }
      val lines = tr.span("render", "model") { val l = Transaction.toLines(df).persist(); l.count(); l }
      val merged = tr.span("merge", "pipeline.merge") {
        val m = MergeSortSink.merge(MergeSortSink.readExisting(spark, sink), lines).persist()
        m.count(); m
      }
      val sorted = tr.span("sort", "pipeline.sort") { MergeSortSink.sortLines(merged).collect().toSeq }
      tr.span("write", "pipeline.write") {
        Files.writeString(Paths.get(sink), sorted.mkString("", "\n", "\n"))
      }
      Seq(df, lines, merged).foreach(_.unpersist())
    }
  }

  def ledgerAppends(run: Run): SparkSession = {
    val exports = readManifest(run.opts("manifest"))
    val warm = exports.filter(_.role == "warm")
    val pool = exports.filter(_.role == "op").toIndexedSeq
    val appends = run.opts("appends").toInt
    val cycle = run.opts("cycle").toInt
    val spark = run.setUp { (s, i) =>
      val w = warm(i % warm.size)
      MergeSortSink.mergeSortWrite(s, Transaction.toLines(read(s, w)), s"${run.work}/warm-$i.txt")
    }

    /** Closed loop, one client. A pass is `appends` appends; the sink starts
      * empty every `cycle` appends. Whole passes repeat until `minSeconds`
      * have passed. */
    def loop(tag: String, minSeconds: Double): Loop = run.passes(minSeconds) { (l, pass) =>
      var expected = mutable.ArrayBuffer[String]()
      for (j <- 0 until appends) {
        val e = pool(j % pool.size)
        val sink = s"${run.work}/$tag-$pass-${j / cycle}.txt"
        if (j % cycle == 0) expected = mutable.ArrayBuffer[String]()
        val t0 = System.nanoTime()
        val ok = try { append(run, spark, e, sink, j); true } catch {
          case ex: Throwable => run.fail(s"append $j (${e.dialect})", ex); false
        }
        l.opMs += (System.nanoTime() - t0) / 1e6
        expected ++= e.expected
        if (ok) {
          val lines = Files.readAllLines(Paths.get(sink), UTF_8).asScala.toIndexedSeq
          checkSink(lines, expected.toSeq).foreach(m => run.failures += s"append $j (${e.dialect}): $m")
          l.sinkLines += lines.size
        }
        l.fresh += e.expected.size
      }
    }

    run.report(loop("data", run.seconds))
    if (run.trace) traceLedger(run, spark, loop)
    spark
  }

  /** The traced run: exactly one more untraced pass, so that both compared
    * passes run as warm, then exactly one traced pass, so that the per-layer
    * figures are per pass however fast a pass is. */
  def traceLedger(run: Run, spark: SparkSession, loop: (String, Double) => Loop): Unit = {
    val base = loop("base", 0)
    run.tracer = run.traced("traced", spark)
    val traced = loop("traced", 0)
    run.layers("trace.overhead_s") = traced.passS.head - base.passS.head
    ledgerLayers(run, traced.sinkLines, traced.fresh)
  }

  /** Per-layer metrics of the one traced ledger pass. Layers absent from the
    * other workload read 0. */
  def ledgerLayers(run: Run, sinkLines: Long, fresh: Long): Unit = {
    val tr = run.tracer
    tr.drain()
    def sum(layer: String)(f: Span => Double): Double = tr.byLayer(layer).map(f).sum
    def tot(layer: String)(f: TaskTotals => Double): Double = sum(layer)(s => f(tr.totals(s)))
    val ops = tr.byLayer("op").size.max(1)
    val pipeline = Seq("pipeline.merge", "pipeline.sort", "pipeline.write")
    run.layers ++= Seq(
      "sources.busy_s" -> sum("sources")(tr.selfSeconds),
      "sources.cpu_s" -> tot("sources")(_.cpuNs / 1e9),
      "sources.jobs" -> tot("sources")(_.jobs.toDouble),
      "sources.rows_read" -> tot("sources")(_.recordsRead.toDouble),
      "sources.rows_kept" -> fresh.toDouble,
      "model.render_s" -> sum("model")(tr.selfSeconds),
      "model.render_cpu_s" -> tot("model")(_.cpuNs / 1e9),
      "model.values_rendered" -> 3.0 * fresh,
      "pipeline.merge_s" -> sum("pipeline.merge")(tr.selfSeconds),
      "pipeline.merge_jobs" -> tot("pipeline.merge")(_.jobs.toDouble),
      "pipeline.sort_s" -> sum("pipeline.sort")(tr.selfSeconds),
      "pipeline.write_s" -> sum("pipeline.write")(tr.selfSeconds),
      "pipeline.jobs" -> pipeline.map(l => tot(l)(_.jobs.toDouble)).sum / ops,
      "pipeline.shuffle_mb" -> pipeline.map(l => tot(l)(_.shuffleMb)).sum,
      "pipeline.lines_read_back" -> (sinkLines - fresh).max(0L).toDouble,
      "pipeline.write_amp" -> sinkLines.toDouble / fresh.max(1L))
  }

  // ----------------------------------------------------- query surface ---

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def family(query: String): String =
    if (query.matches("q\\d+_.*")) "rel" else query.takeWhile(_ != '_')

  /** Consume a query's whole output: every column of every row, after the
    * final sort. Returns the row count and an order-independent fold of
    * per-row hashes, as a full-column check. */
  def consume(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { r => n += 1; h += proj(r).hashCode() }
        Iterator.single((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  def querySurface(run: Run): SparkSession = {
    val dir = run.opts("data")
    // graft.Bench's untimed warm-up: every table's footer, then the tokenize
    // and dot_f evaluation paths on a few rows
    val spark = run.setUp { (s, _) =>
      s.range(1000).selectExpr("sum(id)").collect()
      Tables.foreach(t => s.read.parquet(s"$dir/$t.parquet").limit(1).count())
      s.read.parquet(s"$dir/documents.parquet").limit(64)
        .selectExpr(raw"explode(filter(split(lower(trim(text)), '\\s+'), t -> t != '')) AS t")
        .count()
      s.read.parquet(s"$dir/embeddings.parquet").limit(64).selectExpr("dot_f(embedding, embedding)").count()
    }
    // `only` (a regex over builder and query names) trims the surface for smoke tests
    val only = run.opts.getOrElse("only", "")
    def keep(name: String): Boolean = only.isEmpty || name.matches(only)
    val builders = (LlmOps.stateBuilders(spark, dir) ++ Relational.stateBuilders(spark, dir))
      .filter(b => keep(b._1))
    // `every` = k keeps every k-th query in name order, and every query of a
    // family too small to be sampled, so that one pass fits the run's budget
    val every = run.opts.getOrElse("every", "1").toInt
    val all = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1))
    val familySize = all.groupBy(q => family(q._1)).map { case (f, qs) => f -> qs.size }
    val queries = all.zipWithIndex.collect {
      case (q, i) if i % every == 0 || familySize(family(q._1)) < every => q
    }
    if (run.trace) run.tracer = run.traced("traced", spark)
    val tr = run.tracer

    val c0 = run.cpuNs()
    val stateTimes = builders.map { case (name, build) =>
      val t0 = System.nanoTime()
      try tr.span(name, "state")(build()) catch { case e: Throwable => run.fail(s"state $name", e) }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val residentMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    val exch = mutable.LinkedHashMap[String, Int]()

    /** One pass over every query; (name, seconds, rows, hash, ok). */
    def pass(t: Tracer): Seq[(String, Double, Long, Long, Boolean)] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = try {
        val df = t.span(s"$name.plan", s"query.plan.${family(name)}") {
          val d = fn(spark, dir); d.queryExecution.executedPlan; d
        }
        val (rows, hash) = t.span(s"$name.run", s"query.busy.${family(name)}")(consume(df))
        if (t.on) exch(name) = exchanges(df.queryExecution.executedPlan)
        (rows, hash, true)
      } catch { case e: Throwable => run.fail(s"query $name", e); (0L, 0L, false) }
      (name, (System.nanoTime() - t0) / 1e9, r._1, r._2, r._3)
    }

    val untraced = new Tracer(false, "untraced")
    val (results, qWall, _) = run.timed(pass(untraced))
    run.out("pass_s") = Seq(stateTimes.map(_._2).sum + qWall)
    run.out("pass_cpu_s") = Seq((run.cpuNs() - c0) / 1e9)
    run.out("state_s") = stateTimes.map(_._2)
    run.out("state_names") = stateTimes.map(_._1)
    run.out("op_ms") = (stateTimes.map(_._2) ++ results.map(_._2)).map(_ * 1000)
    run.out("query_s") = results.map(_._2)
    run.out("query_names") = results.map(_._1)
    run.out("query_rows") = results.map(_._3)
    run.out("query_hash") = results.map(_._4)
    run.out("query_ok") = results.map(_._5)
    run.out("state_resident_mb") = residentMb

    if (run.trace) {
      // one more untraced pass first, so that both compared passes run as warm
      val (_, baseWall, _) = run.timed(pass(untraced))
      val (_, tWall, _) = run.timed(pass(tr))
      run.layers("trace.overhead_s") = tWall - baseWall
      surfaceLayers(run, residentMb, exch.toMap)
    }
    spark
  }

  def surfaceLayers(run: Run, residentMb: Double, exch: Map[String, Int]): Unit = {
    val tr = run.tracer
    tr.drain()
    val state = tr.byLayer("state")
    def tot(spans: Seq[Span])(f: TaskTotals => Double): Double = spans.map(s => f(tr.totals(s))).sum
    state.foreach(s => run.layers(s"state.${s.name}_s") = s.seconds)
    run.layers ++= Seq(
      "state.cpu_s" -> tot(state)(_.cpuNs / 1e9),
      "state.gc_s" -> tot(state)(_.gcMs / 1e3),
      "state.shuffle_mb" -> tot(state)(_.shuffleMb),
      "state.spill_mb" -> tot(state)(_.spillBytes / 1048576.0),
      "state.jobs" -> tot(state)(_.jobs.toDouble),
      "state.resident_mb" -> residentMb)
    for (f <- Seq("rel", "cgt", "txt", "dd", "sim", "mm", "ingest")) {
      val busy = tr.byLayer(s"query.busy.$f")
      val plan = tr.byLayer(s"query.plan.$f")
      val both = busy ++ plan
      run.layers ++= Seq(
        s"queries.$f.busy_s" -> busy.map(tr.selfSeconds).sum,
        s"queries.$f.plan_s" -> plan.map(tr.selfSeconds).sum,
        s"queries.$f.cpu_s" -> tot(both)(_.cpuNs / 1e9),
        s"queries.$f.shuffle_mb" -> tot(both)(_.shuffleMb),
        s"queries.$f.spill_mb" -> tot(both)(_.spillBytes / 1048576.0),
        s"queries.$f.exchanges" -> exch.collect { case (q, n) if family(q) == f => n.toDouble }.sum,
        s"queries.$f.jobs" -> tot(both)(_.jobs.toDouble))
    }
  }
}

/** Minimal JSON writer for the harness's result object. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
