package graft.perfbench

import java.io.{BufferedWriter, FileWriter, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftQC, GraftSession, SparkEntry}
import graft.operators._
import graft.sources.Tables
import graft.streaming.EventStream

/** The benchmark's runner: one closed-loop client in one JVM.
  *
  * It sets up a session once, timed from the process launch, then runs one
  * untimed check pass (the JVM's cold pass; every output is dumped for the
  * oracle compare) and
  * `warmPasses` untimed warm-up passes, then repeats timed passes over the
  * op list until the time budget is spent.
  * Every op is split into construct (the library call that returns the
  * DataFrame, eager jobs included), plan (`queryExecution.executedPlan`)
  * and exec (`toRdd.count()` for catalog entries, `collect()` for the QC
  * session, as the UI would). With `--trace 1`, passes alternate untraced
  * and traced; traced passes register a [[PhaseListener]].
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  *             --seed N --cores C --launched EPOCH_MS [--ops A,B,..|all]
  *             [--script DIR] [--setup-only 1]
  *        Main --selftest 1 --out DIR
  *
  * `--launched` is the wall-clock time at which the caller started this
  * process; `--setup-only 1` stops after the set-up and records only it.
  */
object Main {
  private val json = new ObjectMapper()
  private val nf = JsonNodeFactory.instance
  private val opTimeoutMs = 60000L
  /** Untimed passes after the cold check pass, then at least `minPasses`
    * timed ones (four when tracing: two untraced, two traced). The JIT keeps
    * compiling for several passes after the cold pass (a 40 s QC run at 4
    * cores: 8.4, 7.0, 5.7, 5.4, 5.5, 5.3 s per pass), so timing starts one
    * pass later, and every run times the same passes of that curve. */
  val warmPasses = 1
  def minPasses(c: Conf): Int = if (c.trace) 4 else 3

  final case class Op(name: String, module: String, build: SparkSession => DataFrame)

  final case class Timing(name: String, module: String, construct: Double, plan: Double,
      exec: Double, rows: Long, error: String)

  def modules: Seq[(String, Iterable[String])] = Seq(
    "Selection" -> Selection.queries.keys, "Analytics" -> Analytics.queries.keys,
    "Temporal" -> Temporal.queries.keys, "Dedup" -> Dedup.queries.keys,
    "Graph" -> Graph.queries.keys, "Similarity" -> Similarity.queries.keys,
    "TextAnalysis" -> TextAnalysis.queries.keys, "Sketches" -> Sketches.queries.keys,
    "Layout" -> Layout.queries.keys, "EventStream" -> EventStream.queries.keys,
    "Multimodal" -> SparkEntry.queries.keys.filter(_.startsWith("mm_")))

  def moduleOf(name: String): String =
    modules.find(_._2.exists(_ == name)).map(_._1).getOrElse("-")

  // --- session set-up -----------------------------------------------------

  final case class Conf(workload: String, data: String, out: Path, seconds: Double,
      trace: Boolean, seed: Long, cores: Int, script: String)

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def session(c: Conf): SparkSession = {
    val local = c.out.resolve("spark-local").toAbsolutePath.toString
    val s = GraftSession.builder(s"local[${c.cores}]", c.cores)
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", c.out.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Tables.invalidate()
  }

  // --- op execution -------------------------------------------------------

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  private var opSeq = 0L

  /** Run one op through its three phases. A throw or a timeout yields a
    * Timing with `error` set; callers never book such an op as a latency. */
  def timed(spark: SparkSession, name: String, module: String, progress: PrintWriter)(
      build: => Option[DataFrame])(finish: DataFrame => Long): Timing = {
    val sc = spark.sparkContext
    opSeq += 1
    val group = s"perfbench-$opSeq"
    progress.println(s"op $name"); progress.flush()
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val cancel = watchdog.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, opTimeoutMs, TimeUnit.MILLISECONDS)
    var t1, t2 = 0L
    val t0 = System.nanoTime()
    try {
      PhaseListener.mark(sc, module, "construct")
      val df = build
      t1 = System.nanoTime()
      PhaseListener.mark(sc, module, "plan")
      df.foreach(_.queryExecution.executedPlan)
      t2 = System.nanoTime()
      PhaseListener.mark(sc, module, "exec")
      val rows = df.map(finish).getOrElse(-1L)
      val t3 = System.nanoTime()
      Timing(name, module, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows, null)
    } catch {
      case NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        Timing(name, module, 0, 0, 0, -1, if (cancel.isDone) s"timeout: $msg" else msg)
    } finally {
      cancel.cancel(false)
      PhaseListener.clear(sc)
      sc.clearJobGroup()
    }
  }

  /** Typed JSON for one collected value (decoded by check.py). */
  def enc(v: Any): JsonNode = v match {
    case null => nf.nullNode()
    case b: Boolean => nf.booleanNode(b)
    case n: Byte => nf.numberNode(n.toLong)
    case n: Short => nf.numberNode(n.toLong)
    case n: Int => nf.numberNode(n.toLong)
    case n: Long => nf.numberNode(n)
    case f: Float => enc(f.toDouble)
    case d: Double =>
      if (d.isNaN || d.isInfinite) nf.objectNode().put("$dbl", d.toString) else nf.numberNode(d)
    case d: java.math.BigDecimal => nf.numberNode(d)
    case s: String => nf.textNode(s)
    case t: java.sql.Timestamp =>
      nf.objectNode().put("$ts", Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      nf.objectNode().put("$ts", t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => enc(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => nf.objectNode().put("$date", d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => nf.objectNode().put("$date", d.toEpochDay)
    case b: Array[Byte] => nf.objectNode().put("$hex", b.map("%02x".format(_)).mkString)
    case r: Row =>
      val o = nf.objectNode()
      r.schema.fieldNames.zipWithIndex.foreach { case (f, i) => o.set[JsonNode](f, enc(r.get(i))) }
      o
    case m: scala.collection.Map[_, _] =>
      val a = nf.arrayNode()
      m.foreach { case (k, x) => a.add(nf.arrayNode().add(enc(k)).add(enc(x))) }
      nf.objectNode().set[JsonNode]("$map", a)
    case s: scala.collection.Iterable[_] =>
      val a = nf.arrayNode(); s.foreach(x => a.add(enc(x))); a
    case other => nf.textNode(other.toString)
  }

  def dump(df: DataFrame, path: Path): Long = {
    val rows = df.collect()
    val w = new BufferedWriter(new FileWriter(path.toFile))
    try {
      w.write(json.writeValueAsString(df.columns)); w.newLine()
      rows.foreach { r =>
        val a = nf.arrayNode()
        (0 until r.length).foreach(i => a.add(enc(r.get(i))))
        w.write(json.writeValueAsString(a)); w.newLine()
      }
    } finally w.close()
    rows.length.toLong
  }

  // --- memo boundary -----------------------------------------------------

  /** The library's public release calls; returns how many persistent RDDs
    * they left behind, then drops those too so passes start clean. */
  def release(spark: SparkSession): Int = {
    Dedup.releaseCaches(); Selection.releaseCaches(); Analytics.releaseCaches()
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.size
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    leaked
  }

  /** Build the family memos a full catalog pass reads, all three, as
    * legacy Bench does. */
  def warm(spark: SparkSession, d: String): Unit = {
    Dedup.warmFamilyCaches(spark, d)
    Selection.warmQcCaches(spark, d)
    Analytics.warmFamilyCaches(spark, d)
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  // --- /proc samples -------------------------------------------------------

  private def readProc(p: String): String =
    try Files.readString(Paths.get(p)) catch { case NonFatal(_) => "" }

  /** (total jiffies, busy jiffies, steal jiffies, own jiffies, psi some µs). */
  def procSample(): Array[Long] = {
    val cpu = readProc("/proc/stat").linesIterator.toSeq.headOption
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val self = readProc("/proc/self/stat").split("\\s+")
    val psi = readProc("/proc/pressure/cpu").linesIterator.find(_.startsWith("some"))
      .map(_.split("total=").last.trim.toLong).getOrElse(-1L)
    if (cpu.length < 8 || self.length < 15) Array(-1L, -1L, -1L, -1L, psi)
    else Array(cpu.sum, cpu.sum - cpu(3) - cpu(4), cpu(7), self(13).toLong + self(14).toLong, psi)
  }

  def contention(a: Array[Long], b: Array[Long]): ObjectNode = {
    val o = nf.objectNode()
    o.put("load_1m", readProc("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0))
    val tot = (b(0) - a(0)).toDouble
    if (a(0) >= 0 && tot > 0) {
      o.put("steal_pct", 100.0 * (b(2) - a(2)) / tot)
      o.put("ext_cpu_pct", 100.0 * math.max(0L, (b(1) - a(1)) - (b(3) - a(3))) / tot)
    }
    if (a(4) >= 0 && b(4) >= 0) o.put("cpu_stall_ms", (b(4) - a(4)) / 1000)
    o
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def peakRssMb(): Double =
    readProc("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)

  // --- result records -------------------------------------------------------

  def timingNode(t: Timing): ObjectNode = {
    val o = nf.objectNode()
    o.put("op", t.name).put("module", t.module).put("construct", t.construct)
      .put("plan", t.plan).put("exec", t.exec).put("rows", t.rows)
    if (t.error != null) o.put("error", t.error)
    o
  }

  def listenerNode(l: PhaseListener, spark: SparkSession): ArrayNode = {
    val a = nf.arrayNode()
    l.snapshot(spark.sparkContext).foreach { case ((m, p), x) =>
      a.add(nf.objectNode().put("module", m).put("phase", p).put("jobs", x.jobs)
        .put("stages", x.stages).put("tasks", x.tasks).put("task_s", x.taskMs / 1e3)
        .put("task_cpu_s", x.cpuNs / 1e9).put("gc_s", x.gcMs / 1e3)
        .put("shuffle_read_mb", x.shuffleRead / 1048576.0)
        .put("shuffle_write_mb", x.shuffleWrite / 1048576.0)
        .put("spill_mb", x.spill / 1048576.0))
    }
    a
  }

  // --- workloads -------------------------------------------------------------

  trait Pass {
    /** Release the family memos and build them again, into `rec`. */
    def memo(spark: SparkSession, rec: ObjectNode): Unit = ()
    /** Run the op list once; `check` dumps outputs instead of counting. */
    def run(spark: SparkSession, check: Boolean, rec: ObjectNode): Unit
  }

  final class CatalogPass(c: Conf, ops: Seq[Op], progress: PrintWriter) extends Pass {
    override def memo(spark: SparkSession, rec: ObjectNode): Unit = {
      val tr = System.nanoTime()
      rec.put("leaked_rdds", release(spark))
      rec.put("release_s", (System.nanoTime() - tr) / 1e9)
      val memo = timed(spark, "memo_build", "memo", progress)({
        warm(spark, c.data); None
      })(_ => -1L)
      rec.set[JsonNode]("build", timingNode(memo))
      rec.put("cached_mb", cachedMb(spark))
    }

    def run(spark: SparkSession, check: Boolean, rec: ObjectNode): Unit = {
      val sc = spark.sparkContext
      // what is persisted between ops is the memos; anything an op
      // persists is dropped after it
      val warmIds = sc.getPersistentRDDs.keySet.toSet
      val arr = rec.putArray("ops")
      ops.foreach { op =>
        var leafBytes = -1L
        val t = timed(spark, op.name, op.module, progress)(Some(op.build(spark))) { df =>
          if (check) {
            // the summed leaf bytes of the op's plan, the quantity the
            // library's dispatches compare with the leaf-byte gate
            leafBytes = PlanStats.leafStatBytes(df)
            dump(df, c.out.resolve("dumps").resolve(op.name + ".jsonl"))
          } else df.queryExecution.toRdd.count()
        }
        val node = timingNode(t)
        if (check) node.put("leaf_bytes", leafBytes)
        arr.add(node)
        sc.getPersistentRDDs.foreach { case (id, r) => if (!warmIds(id)) r.unpersist(false) }
      }
    }
  }

  final class QcPass(c: Conf, script: Seq[JsonNode], progress: PrintWriter) extends Pass {
    private val selSchema = StructType(Seq(
      StructField("compound", StringType), StructField("sel_key", StringType)))

    def run(spark: SparkSession, check: Boolean, rec: ObjectNode): Unit = {
      val qc = new GraftQC(spark, utcOffsetHours = -2)
      val out = c.out.resolve("qc-written").toAbsolutePath.toString
      var data: DataFrame = null
      var sel: Array[Row] = Array.empty
      def selDf: DataFrame = spark.createDataFrame(sel.toSeq.asJava, selSchema)
      def keep(df: DataFrame): Long = { sel = df.collect(); sel.length.toLong }
      val arr = rec.putArray("ops")
      var exportS, writeS = 0.0
      script.zipWithIndex.foreach { case (st, i) =>
        val op = st.get("op").asText
        val extra = nf.objectNode()
        def box: DataFrame =
          if (op == "rect") qc.rectSelect(data, st.get("compound").asText, st.get("t0").asText,
            st.get("t1").asText, st.get("v0").asDouble, st.get("v1").asDouble)
          else qc.rectSelectAxes(data, st.get("compound").asText, st.get("x").asText,
            st.get("x0").asDouble, st.get("x1").asDouble, st.get("y").asText,
            st.get("y0").asDouble, st.get("y1").asDouble)
        val t = op match {
          case "load" =>
            timed(spark, op, "GraftQC", progress)({ data = qc.loadSeriesDir(c.script); Some(data) })(_.count())
          case "zoom" =>
            timed(spark, op, "GraftQC", progress)({
              val z = qc.zoomSession(data)
              st.get("compounds").elements.asScala.foreach(n => z.current(n.asText))
              None
            })(_ => -1L)
          case "rect" | "axes" =>
            timed(spark, op, "GraftQC", progress)(Some(st.get("mode").asText match {
              case "anti" => qc.antiSelect(selDf, box)
              case "toggle" => qc.toggle(selDf, box)
              case _ => val s = selDf; qc.toggle(s, qc.antiSelect(box, s))
            }))(keep)
          case "counts" =>
            timed(spark, op, "GraftQC", progress)(Some(qc.counts(selDf)))(_.collect().length.toLong)
          case "commit" =>
            var js = ""
            val t = timed(spark, op, "GraftQC", progress)({
              val a = System.nanoTime()
              js = qc.exportJson(selDf)
              val imported = qc.importSelections(js)
              val b = System.nanoTime()
              qc.writeFiltered(data, imported, out)
              val e = System.nanoTime()
              extra.put("export_s", (b - a) / 1e9).put("write_s", (e - b) / 1e9)
              exportS += (b - a) / 1e9
              writeS += (e - b) / 1e9
              Some(qc.applyFilter(data, imported))
            })(_.count())
            if (t.error == null) {
              extra.put("json_sha", sha256(js))
              // read back once per run, in the untimed check pass
              if (check) extra.put("written", spark.read.parquet(out).count())
              val files = Files.walk(Paths.get(out)).iterator.asScala.filter(p =>
                Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
              extra.put("files", files.size).put("output_mb", files.map(Files.size).sum / 1048576.0)
            }
            t
          case "outliers" => timed(spark, op, "GraftQC", progress)(Some(qc.outliers(data)))(_.collect().length.toLong)
          case "gaps" => timed(spark, op, "GraftQC", progress)(Some(qc.gaps(data)))(_.collect().length.toLong)
          case "rollingZ" => timed(spark, op, "GraftQC", progress)(Some(qc.rollingZ(data)))(_.collect().length.toLong)
          case "flatline" => timed(spark, op, "GraftQC", progress)(Some(qc.flatline(data)))(_.collect().length.toLong)
        }
        arr.add(timingNode(t).put("step", i).setAll[ObjectNode](extra))
      }
      rec.put("export_s", exportS).put("write_s", writeS)
    }
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // --- main ------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val out = Paths.get(a("out"))
    Files.createDirectories(out.resolve("dumps"))
    if (args.contains("--selftest")) { SelfTest.run(out); return }
    val c = Conf(a("workload"), a("data"), out, a("seconds").toDouble, a("trace") == "1",
      a("seed").toLong, a("cores").toInt, a.getOrElse("script", ""))
    val progress = new PrintWriter(new FileWriter(out.resolve("progress.log").toFile, true))
    val result = nf.objectNode()
    result.put("workload", c.workload).put("seed", c.seed).put("cores", c.cores)

    // set-up: session start, table resolution, warm-up query; timed from
    // the caller's launch of this process, so JVM start and class loading
    // are inside it
    val launched = a("launched").toLong
    val t0 = System.nanoTime()
    val boot = (System.currentTimeMillis() - launched) / 1e3
    val spark = session(c)
    val t1 = System.nanoTime()
    if (c.workload == "catalog") {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings").foreach(Tables.load(spark, c.data, _))
      Tables.events(spark, c.data)
    }
    val t2 = System.nanoTime()
    if (c.workload == "qc_session") new GraftQC(spark).loadSeriesDir(c.script).count()
    else Analytics.q3TopkRevenue(spark, c.data).queryExecution.toRdd.count()
    val t3 = System.nanoTime()
    result.putObject("setup").put("total_s", boot + (t3 - t0) / 1e9)
      .put("jvm_s", boot).put("start_s", boot + (t1 - t0) / 1e9)
      .put("resolve_s", (t2 - t1) / 1e9).put("warm_s", (t3 - t2) / 1e9)
    if (a.get("setup-only").contains("1")) {
      stop(spark)
      json.writerWithDefaultPrettyPrinter().writeValue(out.resolve("result.json").toFile, result)
      return
    }
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)

    // workload properties: leaf bytes of every input table, JVM heap
    if (c.workload == "catalog") {
      val lb = result.putObject("leaf_bytes")
      Seq("customer", "orders", "lineitem", "part", "documents", "embeddings").foreach(t =>
        lb.put(t, PlanStats.leafStatBytes(Tables.load(spark, c.data, t))))
      lb.put("events", PlanStats.leafStatBytes(Tables.events(spark, c.data)))
      lb.put("events_probe", PlanStats.leafStatBytes(
        Tables.events(spark, c.data).select("event_id", "event_type", "ts", "value")))
      result.put("gate_bytes", PlanStats.minLeafBytes(spark))
    }
    result.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)

    val pass: Pass = c.workload match {
      case "qc_session" =>
        val steps = json.readTree(Paths.get(c.script).resolveSibling("script.json").toFile)
        new QcPass(c, steps.elements.asScala.toSeq, progress)
      case _ =>
        val q = SparkEntry.queries
        val names = a("ops") match {
          case "all" => q.keys.toSeq.sorted
          case list => list.split(",").toSeq
        }
        names.filterNot(q.contains).foreach(n => throw new IllegalArgumentException(s"no entry $n"))
        val order = new scala.util.Random(c.seed).shuffle(names)
        val ops = order.map(n => Op(n, moduleOf(n), q(n)(_, c.data)))
        val oracle = json.createObjectNode()
        order.foreach(n => oracle.put(n, SparkEntry.oracleSql(n)))
        val tmp = out.resolve("oracle_sql.json.tmp")
        json.writeValue(tmp.toFile, oracle)
        Files.move(tmp, out.resolve("oracle_sql.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        new CatalogPass(c, ops, progress)
    }

    val listener = new PhaseListener
    val tc = System.nanoTime()
    val checkRec = result.putObject("check")
    pass.memo(spark, checkRec.putObject("memo"))
    pass.run(spark, check = true, checkRec)
    result.put("check_s", (System.nanoTime() - tc) / 1e9)
    // the caller computes the expected outputs while the check pass runs;
    // timed passes start only once it is done, so nothing else competes
    val go = out.resolve("go")
    val waitStart = System.nanoTime()
    while (!Files.exists(go) && System.nanoTime() - waitStart < 120e9) Thread.sleep(20)
    result.put("wait_s", (System.nanoTime() - waitStart) / 1e9)

    val tw = System.nanoTime()
    (0 until warmPasses).foreach(_ => pass.run(spark, check = false, nf.objectNode()))
    result.put("warm_s", (System.nanoTime() - tw) / 1e9)

    // the timed region starts from released memos and builds them once, as
    // a full catalog pass would; the passes then reuse them
    val p0 = procSample()
    val start = System.nanoTime()
    val memoRec = result.putObject("memo")
    System.gc()
    if (c.trace) { listener.reset(); spark.sparkContext.addSparkListener(listener) }
    pass.memo(spark, memoRec)
    if (c.trace) {
      memoRec.set[JsonNode]("listener", listenerNode(listener, spark))
      spark.sparkContext.removeSparkListener(listener)
    }
    val passes = result.putArray("passes")
    var n = 0
    while (n < minPasses(c) || (System.nanoTime() - start) / 1e9 < c.seconds) {
      // untraced, traced, traced, untraced: the two kinds sit evenly on the
      // passes' warm-up trend
      val traced = c.trace && (n % 4 == 1 || n % 4 == 2)
      val rec = nf.objectNode().put("traced", traced)
      // every pass starts from a collected heap, so no pass pays for the
      // garbage of the one before it
      System.gc()
      if (traced) { listener.reset(); spark.sparkContext.addSparkListener(listener) }
      val gc0 = gcMs()
      val tp = System.nanoTime()
      pass.run(spark, check = false, rec)
      rec.put("wall_s", (System.nanoTime() - tp) / 1e9)
      rec.put("jvm_gc_s", (gcMs() - gc0) / 1e3)
      if (traced) {
        rec.set[JsonNode]("listener", listenerNode(listener, spark))
        spark.sparkContext.removeSparkListener(listener)
      }
      passes.add(rec)
      n += 1
    }
    result.put("timed_s", (System.nanoTime() - start) / 1e9)
    result.set[JsonNode]("contention", contention(p0, procSample()))
    result.put("final_leaked_rdds", {
      Dedup.releaseCaches(); Selection.releaseCaches(); Analytics.releaseCaches()
      spark.catalog.clearCache(); spark.sparkContext.getPersistentRDDs.size
    })
    result.put("peak_rss_mb", peakRssMb())
    stop(spark)
    json.writerWithDefaultPrettyPrinter().writeValue(out.resolve("result.json").toFile, result)
    progress.println("done"); progress.close()
  }
}

/** Checks the listener's phase attribution on a fake op whose construction
  * launches jobs: those must be booked to construct, the op's own count to
  * exec, and a count outside any op to "other". */
object SelfTest {
  def run(out: Path): Unit = {
    val c = Main.Conf("selftest", "", out, 0, trace = true, 0, 2, "")
    val spark = Main.session(c)
    val l = new PhaseListener
    spark.sparkContext.addSparkListener(l)
    val progress = new PrintWriter(new FileWriter(out.resolve("selftest.log").toFile))
    val t = Main.timed(spark, "fake", "Fake", progress)({
      val n = spark.range(1000).count()
      Some(spark.range(n).selectExpr("id % 7 AS k").groupBy("k").count())
    })(_.queryExecution.toRdd.count())
    spark.range(10).count()
    val snap = l.snapshot(spark.sparkContext)
    def jobs(m: String, p: String) = snap.get((m, p)).map(_.jobs).getOrElse(0L)
    // the eager count inside construction and the count outside any op are
    // the same query, so they launch the same number of jobs
    val ok = t.error == null && t.rows == 7 && jobs("Fake", "construct") >= 1 &&
      jobs("Fake", "construct") == jobs("-", "other") && jobs("Fake", "plan") == 0 &&
      jobs("Fake", "exec") >= 1 && snap.get(("Fake", "exec")).exists(_.tasks > 0)
    progress.println(s"construct_jobs=${jobs("Fake", "construct")} exec_jobs=${jobs("Fake", "exec")} " +
      s"other_jobs=${jobs("-", "other")} rows=${t.rows} ok=$ok")
    progress.close()
    Main.stop(spark)
    if (!ok) sys.exit(1)
  }
}
