// The benchmark's JVM side. It drives graft only through public entry points
// (GraftSession.local, UdParser.parse, Typechecker.check, UdScript.compile,
// Main.execute, Msgpack.read / JsonRecords.read, SparkEntry.queries) and, in
// a traced run, observes Spark through its own listeners and JVM MXBeans.
//
// Usage (run.py builds the classpath):
//   Harness bulk <plan.json> <result.json>
//   Harness pack <plan.json> <result.json>
//   Harness cli  <plan.json> <result.json>   one traced cold CLI call
//
// The package sits under org.apache.spark.sql only to reach the listener
// bus's waitUntilEmpty (listener totals are read after every event landed)
// and CatalystTypeConverters (timed pack rows are kept as InternalRows).
package org.apache.spark.sql.perfbench

import java.io._
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans: name, start, end, parent, request id. Written once at
  * the end of the run. */
final class Spans {
  final case class Span(id: Int, name: String, request: String, parent: Int,
                        startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List.empty[Int]

  def apply[T](name: String, request: String)(body: => T): T = {
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, request, parent, t0, System.nanoTime())
    }
  }

  def seconds(name: String): Double =
    done.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Per request: wall of its root span minus the root's direct children
    * (requests that are a single span measure one layer and have none). */
  def unattributed: Seq[(String, Double)] =
    done.filter(_.parent == 0).flatMap { root =>
      val kids = done.filter(_.parent == root.id)
      if (kids.isEmpty) None
      else Some(root.request ->
        (root.endNs - root.startNs - kids.map(s => s.endNs - s.startNs).sum) / 1e9)
    }.toSeq

  def toJson(m: ObjectMapper): JsonNode = {
    val arr = m.createArrayNode()
    done.foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name)
        .put("request", s.request).put("parent", s.parent)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    arr
  }
}

/** Executor, job, shuffle and planning totals for a traced window. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val runMs, cpuNs, gcMs, tasks, stages, shufRead, shufWrite, jobs = new LongAdder
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  private val taskTimes =
    new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  val skews = new ConcurrentLinkedQueue[Double]()
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment(); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskInfo != null)
      taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shufRead.add(m.shuffleReadMetrics.totalBytesRead)
      shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
    }
    stages.increment(); tasks.add(e.stageInfo.numTasks.toLong)
    val ts = Option(taskTimes.remove(e.stageInfo.stageId))
      .map(_.asScala.toSeq.sorted).getOrElse(Nil)
    if (ts.size > 1) {
      val med = ts(ts.size / 2).toDouble
      skews.add(ts.last / math.max(1.0, med))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    addPhases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    addPhases(qe)
  private def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (k, p) =>
      phaseMs.computeIfAbsent(k, _ => new LongAdder).add(p.durationMs)
    }

  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty(10000)

  /** Share of [t0, t1] (epoch ms) with no job running. */
  def idleRatio(t0: Long, t1: Long): Double = {
    val iv = jobSpans.asScala.toSeq.map { case (a, b) =>
      (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L; var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { busy += b - math.max(a, end); end = b } }
    if (t1 <= t0) 0.0 else 1.0 - busy.toDouble / (t1 - t0)
  }
  def idleMs(t0: Long, t1: Long): Double = idleRatio(t0, t1) * (t1 - t0)
  /** Jobs that started within [t0, t1] (epoch ms) and have ended. */
  def jobsStarted(t0: Long, t1: Long): Long =
    jobSpans.asScala.count { case (a, _) => a >= t0 && a <= t1 }.toLong
  def phase(k: String): Double =
    Option(phaseMs.get(k)).map(_.sum.toDouble).getOrElse(0.0)
}

/** Micro-batch phases and state-store totals of streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  val batches, trigger, addBatch, planning, wal, commit = new LongAdder
  val stateMem = new AtomicLong; val stateRows = new AtomicLong
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    batches.increment()
    trigger.add(get("triggerExecution")); addBatch.add(get("addBatch"))
    planning.add(get("queryPlanning")); wal.add(get("walCommit"))
    p.stateOperators.foreach { op =>
      commit.add(op.commitTimeMs)
      stateMem.accumulateAndGet(op.memoryUsedBytes, math.max)
      stateRows.accumulateAndGet(op.numRowsTotal, math.max)
    }
  }
}

object Harness {
  private val om = new ObjectMapper()
  def jvmGcS: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def jvmJitS: Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime / 1e3 else 0.0
  }
  def codegenMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1e6
  def now(): Double = System.nanoTime() / 1e9

  /** (steal, total) jiffies of the whole host, from /proc/stat. */
  def hostJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L) else {
      val xs = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    }
  }
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Point graft's throwaway stream scratch (TmpDirs.fastRoot, /dev/shm
    * when writable) at the run's own directory, so a run writes nothing
    * outside its checkout. The field is a static final, so it is set
    * through Unsafe before any graft code has read it. */
  def pinFastTmp(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val f = graft.util.TmpDirs.getClass.getDeclaredField("fastRoot")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), Paths.get(dir))
    require(graft.util.TmpDirs.fastRoot == Paths.get(dir))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.delete) finally s.close()
  }
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val mainNs = System.currentTimeMillis()
    val plan = om.readTree(new File(args(1)))
    val out = om.createObjectNode()
    out.put("main_epoch_ms", mainNs)
    Option(plan.get("fast_tmp")).foreach(n => pinFastTmp(n.asText))
    args(0) match {
      case "bulk" => Bulk.run(plan, out)
      case "pack" => Pack.run(plan, out)
      case "cli"  => Cli.run(plan, out)
    }
    val rt = ManagementFactory.getRuntimeMXBean
    out.put("jvm_start_epoch_ms", rt.getStartTime)
      .put("jvm_classes_loaded",
        ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
      .put("jvm_jit_s", jvmJitS).put("jvm_gc_s", jvmGcS)
      .put("codegen_ms", codegenMs)
    om.writerWithDefaultPrettyPrinter().writeValue(new File(args(2)), out)
  }

  // ---- shared helpers ----

  def session(cores: Int): SparkSession = graft.GraftSession.local(cores)

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def strList(n: JsonNode): List[String] =
    n.elements().asScala.map(_.asText).toList

  /** Front-end layers of one script, each under its own span. */
  def frontEnd(spans: Spans, req: String, path: String,
               libDirs: Seq[String]): String = {
    val src = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val script = spans("lang.parse", req) {
      graft.lang.UdParser.parse(src).fold(m => sys.error(m), identity)
    }
    spans("lang.typecheck", req) { graft.lang.Typechecker.check(script) }
    val c = spans("lang.compile", req) {
      graft.lang.UdScript.compile(src, libraryDirs = libDirs)
    }
    c.tier.toString
  }

  def layerJson(p: Probe, t0: Long, t1: Long, o: ObjectNode): Unit = {
    p.drain()
    val sk = p.skews.asScala.toSeq.sorted
    o.put("exec.run_s", p.runMs.sum / 1e3).put("exec.cpu_s", p.cpuNs.sum / 1e9)
      .put("exec.gc_s", p.gcMs.sum / 1e3).put("exec.tasks", p.tasks.sum)
      .put("exec.stages", p.stages.sum)
      .put("exec.tasks_per_stage",
        if (p.stages.sum == 0) 0.0 else p.tasks.sum.toDouble / p.stages.sum)
      .put("exec.task_skew", if (sk.isEmpty) 0.0 else sk(sk.size / 2))
      .put("driver.jobs", p.jobs.sum)
      .put("driver.idle_ratio", p.idleRatio(t0, t1))
      .put("shuffle.read_mb", p.shufRead.sum / 1e6)
      .put("shuffle.write_mb", p.shufWrite.sum / 1e6)
      .put("plan.analysis_ms", p.phase("analysis"))
      .put("plan.optimization_ms", p.phase("optimization"))
      .put("plan.planning_ms", p.phase("planning"))
  }

  def spansJson(spans: Spans, o: ObjectNode): Unit = {
    o.set[JsonNode]("spans", spans.toJson(om))
    val un = o.putObject("unattributed_s")
    spans.unattributed.foreach { case (r, s) => un.put(r, s) }
    o.put("lang.parse_ms", spans.seconds("lang.parse") * 1e3)
      .put("lang.typecheck_ms", spans.seconds("lang.typecheck") * 1e3)
      .put("lang.compile_ms", spans.seconds("lang.compile") * 1e3)
  }
}

/** udl_bulk: one warm session running Main.execute legs over event records. */
object Bulk {
  import Harness._

  final case class Leg(name: String, args: List[String], stdin: Option[String],
                       stdout: Option[String], errFile: String)

  private def legs(arr: JsonNode): Seq[Leg] =
    arr.elements().asScala.map { l =>
      Leg(l.get("name").asText, strList(l.get("args")),
        Option(l.get("stdin")).map(_.asText),
        Option(l.get("stdout")).map(_.asText), l.get("stderr").asText)
    }.toSeq

  private def inRound(l: Leg, r: String): Leg = {
    def sub(x: String) = x.replace("{round}", r)
    Leg(l.name, l.args.map(sub), l.stdin, l.stdout.map(sub), sub(l.errFile))
  }

  /** One Main.execute call; returns wall seconds. */
  def runLeg(s: SparkSession, l: Leg): Double = {
    val in: InputStream = l.stdin.fold[InputStream](
      new ByteArrayInputStream(Array.emptyByteArray))(p =>
      new BufferedInputStream(new FileInputStream(p), 1 << 16))
    val outS = new PrintStream(new BufferedOutputStream(
      l.stdout.fold[OutputStream](OutputStream.nullOutputStream())(p =>
        new FileOutputStream(p)), 1 << 16), false, "UTF-8")
    val errS = new PrintStream(new BufferedOutputStream(
      new FileOutputStream(l.errFile), 1 << 16), false, "UTF-8")
    val t0 = now()
    try {
      val code = graft.Main.execute(l.args, in, outS, errS, Some(s))
      if (code != 0) sys.error(s"leg ${l.name} exited $code")
      outS.flush()
      now() - t0
    } finally { in.close(); outS.close(); errS.close() }
  }

  def run(plan: JsonNode, out: ObjectNode): Unit = {
    val cores = plan.get("cores").asInt
    val seconds = plan.get("seconds").asDouble
    val trace = plan.get("trace").asBoolean
    val warm = legs(plan.get("warmup"))
    val timed = legs(plan.get("legs"))
    // set-up: session creation plus a warm-up round, several times
    val setups = out.putArray("setup_s")
    var s: SparkSession = null
    val creates = out.putArray("session_create_s")
    for (i <- 0 until plan.get("setups").asInt) {
      if (s != null) stop(s)
      val t0 = now()
      s = session(cores)
      creates.add(now() - t0)
      warm.foreach(runLeg(s, _))
      setups.add(now() - t0)
    }
    // timed rounds: at least min_rounds, more while the budget lasts; each
    // round writes its own outputs (the plan's {round} placeholder)
    val wallsObj = out.putObject("walls")
    val walls = timed.map(l => l.name -> wallsObj.putArray(l.name))
    val stealObj = out.putObject("steal")
    val steals = timed.map(l => stealObj.putArray(l.name))
    val cpuObj = out.putObject("cpu_s")
    val cpus = timed.map(l => cpuObj.putArray(l.name))
    val t0 = now()
    var rounds = 0
    while (rounds < plan.get("min_rounds").asInt || now() - t0 < seconds) {
      timed.zip(walls).zip(steals.zip(cpus)).foreach { case ((l, (_, w)), (st, cp)) =>
        val (s0, j0) = hostJiffies(); val c0 = cpuNs()
        w.add(runLeg(s, inRound(l, rounds.toString)))
        val (s1, j1) = hostJiffies()
        cp.add((cpuNs() - c0) / 1e9)
        st.add(if (j1 > j0) (s1 - s0).toDouble / (j1 - j0) else 0.0)
      }
      rounds += 1
    }
    out.put("rounds", rounds)
    if (trace) traced(s, plan, timed, out)
    stop(s)
  }

  /** One traced round plus the per-layer decomposition requests. */
  private def traced(s: SparkSession, plan: JsonNode, timed: Seq[Leg],
                     out: ObjectNode): Unit = {
    val spans = new Spans
    val probe = new Probe(s)
    s.sparkContext.addSparkListener(probe)
    s.listenerManager.register(probe)
    val layers = out.putObject("layers")
    val libDirs = strList(plan.get("lib_dirs"))
    val tw0 = System.currentTimeMillis()
    val j0 = now()
    val tiers = out.putObject("tiers")
    val tracedWalls = out.putObject("traced_walls")
    timed.foreach { l =>
      spans(l.name, l.name) {
        tiers.put(l.name, frontEnd(spans, l.name, l.args.last, libDirs))
        tracedWalls.put(l.name,
          spans("main.execute", l.name)(runLeg(s, inRound(l, "traced"))))
      }
    }
    val tw1 = System.currentTimeMillis()
    out.put("traced_round_s", now() - j0)
    layerJson(probe, tw0, tw1, layers)
    // decomposition: each layer alone, on the same records
    val d = plan.get("decompose")
    def compiled(p: String) = graft.lang.UdScript.compile(
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8"),
      libraryDirs = libDirs)
    def rec(c: graft.lang.UdScript.Compiled) =
      c.script.input.asInstanceOf[graft.lang.Ast.TRecord]
    val abort = graft.sources.ValidatedIngest.Abort
    def consume(df: DataFrame): Long = df.queryExecution.toRdd.count()
    val col = compiled(d.get("column").asText)
    val ker = compiled(d.get("kernel").asText)
    val mpIn = d.get("msgpack_in").asText
    val jsIn = d.get("json_in").asText
    def decodeMp() = graft.sources.Msgpack.read(s, mpIn, rec(col), abort)
    def decodeJs() = graft.sources.JsonRecords.read(
      s, s.read.textFile(jsIn), rec(col), abort)
    val reps = 3
    def best(name: String, req: String)(body: => Any): Double =
      (1 to reps).map { _ =>
        val t0 = now(); spans(name, req)(body); now() - t0 }.min
    val decMp = best("sources.decode", "decode.msgpack")(consume(decodeMp().good))
    val decJs = best("sources.decode", "decode.json")(consume(decodeJs().good))
    val colRun = best("column.run", "column.run")(consume(col.run(decodeJs().good)))
    val kerRun = best("kernel.run", "kernel.run")(consume(ker.run(decodeJs().good)))
    val bad = decodeJs()
    val badN = bad.bad.count(); val allN = badN + bad.good.count()
    layers.put("sources.decode_s.msgpack", decMp)
      .put("sources.decode_s.json", decJs)
      .put("sources.invalid_ratio", if (allN == 0) 0.0 else badN.toDouble / allN)
      .put("column.self_s", colRun - decJs)
      .put("kernel.self_s", kerRun - decJs)
    // sinks: the JSON file leg minus decode+run of the same script
    layers.put("sinks.write_s", tracedWalls.get(d.get("sink_leg").asText).asDouble
      - colRun)
    // pipe framing: the pipe leg minus a file leg on the same records
    val pipeLeg = timed.find(_.name == d.get("pipe_leg").asText).get
    val errDir = d.get("err_dir").asText
    val fileTwin = Leg("pipe_twin", strList(d.get("pipe_twin_args")), None, None,
      s"$errDir/pipe_twin.err")
    val twin = spans("pipe_twin", "pipe_twin")(runLeg(s, fileTwin))
    layers.put("main.pipe_driver_s",
      tracedWalls.get(pipeLeg.name).asDouble - twin)
    // kernel evaluations per record: [ud-debug] lines on a dlq call
    val evalLeg = Leg("evals", strList(d.get("evals_args")), None, None,
      s"$errDir/evals.err")
    val counter = new LineCounter("[ud-debug]")
    val oldErr = System.err
    System.setErr(new PrintStream(counter, true, "UTF-8"))
    try spans("evals", "evals")(runLeg(s, evalLeg))
    finally System.setErr(oldErr)
    layers.put("kernel.evals_per_record",
      counter.count.toDouble / d.get("evals_records").asLong)
    spansJson(spans, layers)
    layers.put("plan.codegen_ms", codegenMs)
  }
}

/** Counts lines that start with a prefix; discards the bytes. */
final class LineCounter(prefix: String) extends OutputStream {
  private val p = prefix.getBytes("UTF-8")
  private var pos = 0 // matched prefix bytes on the current line, -1 = no match
  @volatile var count = 0L
  override def write(b: Int): Unit = synchronized {
    if (b == '\n') pos = 0
    else if (pos >= 0 && pos < p.length) {
      if (b.toByte == p(pos)) { pos += 1; if (pos == p.length) count += 1 }
      else pos = -1
    }
  }
}

/** pack_slice: a fixed slice of SparkEntry.queries, consumed the way
  * graft.Bench does (queryExecution.toRdd). */
object Pack {
  import Harness._

  def run(plan: JsonNode, out: ObjectNode): Unit = {
    val cores = plan.get("cores").asInt
    val dir = plan.get("sf_dir").asText
    val trace = plan.get("trace").asBoolean
    val artifacts = Paths.get(plan.get("artifact_dir").asText)
    val entries = strList(plan.get("entries"))
    val tables = strList(plan.get("tables"))
    val setups = out.putArray("setup_s")
    var s: SparkSession = null
    val creates = out.putArray("session_create_s")
    for (_ <- 0 until plan.get("setups").asInt) {
      if (s != null) stop(s)
      val t0 = now()
      s = session(cores)
      creates.add(now() - t0)
      tables.foreach(t => graft.Tables.t(s, dir, t).count())
      graft.SparkEntry.queries(plan.get("warm_entry").asText)(s, dir)
        .queryExecution.toRdd.count()
      setups.add(now() - t0)
    }
    val session0 = s
    val chain = strList(plan.get("chain_entries")).toSet
    val outputs = mutable.LinkedHashMap[String,
      mutable.LinkedHashMap[String, (DataFrame, Array[InternalRow])]]()
    def within[T](sp: Option[Spans], name: String, req: String)(body: => T): T =
      sp.fold(body)(_(name, req)(body))

    /** One pass over the entries. Every pass starts from an empty artifact
      * store, so the chain entries build their artifacts inside it.
      * Returns each entry's (wall, cpu, steal). */
    def pass(tag: String, spans: Option[Spans],
             onChain: (Long, Long) => Unit): Seq[(String, Double, Double, Double)] = {
      deleteTree(artifacts)
      val got = outputs.getOrElseUpdate(tag, mutable.LinkedHashMap())
      entries.map { name =>
        session0.catalog.clearCache(); System.gc()
        val e0 = System.currentTimeMillis()
        val (s0, j0) = hostJiffies(); val c0 = cpuNs()
        val t0 = now()
        // the full optimized plan, as graft.Bench's toRdd.count(), with the
        // (small) result rows kept for the correctness check
        val res = within(spans, name, name) {
          val df = within(spans, "entry.build", name) {
            graft.SparkEntry.queries(name)(session0, dir) }
          df -> within(spans, "entry.consume", name) {
            df.queryExecution.toRdd.map(_.copy()).collect() }
        }
        val wall = now() - t0
        val (s1, j1) = hostJiffies()
        got(name) = res
        if (chain(name)) onChain(e0, System.currentTimeMillis())
        (name, wall, (cpuNs() - c0) / 1e9,
          if (j1 > j0) (s1 - s0).toDouble / (j1 - j0) else 0.0)
      }
    }

    // timed passes: at least min_passes, more while the budget lasts
    val seconds = plan.get("seconds").asDouble
    val walls = out.putObject("walls")
    val cpu = out.putObject("cpu_s")
    val steal = out.putObject("steal")
    val tp0 = now()
    var passes = 0
    while (passes < plan.get("min_passes").asInt || now() - tp0 < seconds) {
      pass(passes.toString, None, (_, _) => ()).foreach { case (n, w, c, st) =>
        walls.withArray(n).add(w); cpu.withArray(n).add(c)
        steal.withArray(n).add(st)
      }
      passes += 1
    }
    out.put("passes", passes)

    // traced run: one more pass with spans and listeners attached
    if (trace) {
      val spans = new Spans
      val probe = new Probe(s)
      val sprobe = new StreamProbe
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(probe)
      s.streams.addListener(sprobe)
      var chainJobs = 0L; var chainIdleMs = 0.0
      val tw0 = System.currentTimeMillis()
      val traced = out.putObject("traced_walls")
      pass("traced", Some(spans), { (e0, e1) =>
        probe.drain()
        chainJobs += probe.jobsStarted(e0, e1)
        chainIdleMs += probe.idleMs(e0, e1)
      }).foreach { case (n, w, _, _) => traced.put(n, w) }
      val tw1 = System.currentTimeMillis()
      probe.drain()
      val layers = out.putObject("layers")
      layerJson(probe, tw0, tw1, layers)
      spansJson(spans, layers)
      layers.put("chain.jobs", chainJobs).put("chain.idle_s", chainIdleMs / 1e3)
        .put("chain.artifact_mb_written", treeBytes(artifacts) / 1e6)
        .put("stream.batches", sprobe.batches.sum)
        .put("stream.trigger_ms", sprobe.trigger.sum.toDouble)
        .put("stream.add_batch_ms", sprobe.addBatch.sum.toDouble)
        .put("stream.query_planning_ms", sprobe.planning.sum.toDouble)
        .put("stream.wal_commit_ms", sprobe.wal.sum.toDouble)
        .put("state.commit_ms", sprobe.commit.sum.toDouble)
        .put("state.memory_mb", sprobe.stateMem.get / 1e6)
        .put("state.rows_total", sprobe.stateRows.get)
        .put("plan.codegen_ms", codegenMs)
    }
    // outputs for the DuckDB check, outside the timed region: the last
    // timed pass's rows are written in full; another pass's rows are
    // written only where they differ from those (as a multiset)
    val outDir = plan.get("out_dir").asText
    val oracle = out.putObject("oracle_sql")
    val rows = out.putObject("rows")
    val written = out.putObject("written")
    val ref = (passes - 1).toString
    def external(df: DataFrame, internal: Array[InternalRow]): Seq[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      internal.toSeq.map(r => toRow(r).asInstanceOf[Row])
    }
    val refRows = outputs(ref).map { case (name, (df, internal)) =>
      name -> external(df, internal) }
    outputs.foreach { case (tag, got) =>
      val n = rows.putObject(tag)
      val w = written.putArray(tag)
      got.foreach { case (name, (df, internal)) =>
        val ext = external(df, internal)
        n.put(name, internal.length)
        if (tag == ref ||
            ext.map(_.toString).sorted != refRows(name).map(_.toString).sorted) {
          s.createDataFrame(ext.asJava, df.schema).write.mode("overwrite")
            .parquet(s"$outDir/$tag/$name")
          w.add(name)
        }
        oracle.put(name, graft.SparkEntry.oracleSql(name))
      }
    }
    out.put("reference_pass", ref)
    stop(s)
  }
}

/** One traced CLI call in a fresh JVM: the layers graft.Main runs, each
  * timed, then Main.execute with the session handed in. */
object Cli {
  import Harness._

  def run(plan: JsonNode, out: ObjectNode): Unit = {
    val spans = new Spans
    val args = strList(plan.get("args"))
    val req = plan.get("request").asText
    val script = args.last
    val libDirs = strList(plan.get("lib_dirs"))
    val layers = out.putObject("layers")
    val stdin = Option(plan.get("stdin")).map(_.asText)
    val tw0 = System.currentTimeMillis()
    spans(req, req) {
      // graft.Main builds local(2) for --compile and local(4) to run
      val cores = if (args.head == "--compile") 2 else 4
      val s = spans("session.create", req) { session(cores) }
      val probe = new Probe(s)
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(probe)
      out.put("tier", frontEnd(spans, req, script, libDirs))
      val in: InputStream = stdin.fold[InputStream](
        new ByteArrayInputStream(Array.emptyByteArray))(p => new FileInputStream(p))
      val o = new PrintStream(new FileOutputStream(plan.get("stdout").asText),
        false, "UTF-8")
      val code = spans("main.execute", req) {
        graft.Main.execute(args, in, o, System.err, Some(s))
      }
      o.close()
      out.put("exit", code)
      layerJson(probe, tw0, System.currentTimeMillis(), layers)
    }
    spansJson(spans, layers)
    layers.put("session.create_s", spans.seconds("session.create"))
  }
}
