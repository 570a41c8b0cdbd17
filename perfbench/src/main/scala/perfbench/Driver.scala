package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Caches, Scratch, SparkEntry}
import graft.context.SessionContext
import graft.operators.Tpch

/** One benchmark run in one JVM: set up a client session, run a warm pass,
  * then run timed passes of the workload's ops until the time is up, and
  * write every raw timing, per-op result fingerprint and (when traced)
  * listener event to a JSON file. All statistics are computed by the
  * caller (`perfbench/run.py`).
  *
  * The plan file holds one line with the tables to register, one line of
  * ops (`name:kind`, kind one of `sql`, `row`, `sink`) and then one line
  * per pass with the op indices in run order; the first pass line is the
  * warm pass.
  *
  * Usage: Driver <plan> <data dir> <work dir> <seconds> <trace 0|1>
  *   <traced first 0|1> <min passes> <out.json>
  */
object Driver {
  final case class Op(name: String, kind: String)

  def main(args: Array[String]): Unit = {
    val Array(planFile, data, work, secondsArg, traceArg, tracedFirstArg,
      minPassesArg, out) = args
    val lines = Files.readAllLines(Paths.get(planFile)).asScala.toList
    val tables = lines.head.split(",").toList
    val ops = lines(1).split(",").toList.map { s =>
      val Array(n, k) = s.split(":"); Op(n, k)
    }
    val passes = lines.drop(2).map(_.split(",").map(_.toInt).toList)
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val bench = new Driver(tables, ops, data, work, cores)

    // set-up: JVM start, the run's one session (creation and table
    // registration), then one warm pass; the speed probe is not part of it
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val machine0 = Map("load" -> loadAvg, "probe_s" -> speedProbe())
    val (sessionS, registerS) = bench.start(s"$work/scratch")
    val warmS = passes.head.map(i => bench.runOp(i, -1, traced = false)).sum
    val setup = Map("jvm_s" -> jvmS, "session_s" -> sessionS,
      "register_s" -> registerS, "warm_s" -> warmS)
    val scratch = bench.scratchStats()

    val trace = if (traced) Some(new Trace) else None
    // whole passes only, so every op is sampled equally often: passes run
    // until `seconds` have been measured and `minPasses` passes are done
    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    val passRecs = ArrayBuffer.empty[Map[String, Any]]
    var p = 1
    while (p < passes.size &&
        (System.nanoTime() < deadline || passRecs.size < minPassesArg.toInt)) {
      // traced runs alternate traced and untraced passes so the tracing
      // overhead is measured in the same run; which kind runs first is
      // chosen by the caller, so warm-up is not always charged to one kind
      val tr = trace.filter(_ => (p % 2 == 1) == (tracedFirstArg == "1"))
      val wall = tr.map(bench.attach).getOrElse(0.0) +
        passes(p).map(i => bench.runOp(i, p, tr.isDefined)).sum +
        tr.map(bench.detach).getOrElse(0.0)
      passRecs += Map("pass" -> p, "traced" -> tr.isDefined, "wall_s" -> wall)
      p += 1
    }
    val results = bench.dumpResults(s"$work/results")
    bench.stop()
    val machine1 = Map("load" -> loadAvg, "probe_s" -> speedProbe())
    val json = Map(
      "cores" -> cores, "ops" -> ops.map(_.name), "setup" -> setup,
      "passes" -> passRecs.toList, "samples" -> bench.samples.toList,
      "results" -> results, "scratch" -> scratch,
      "oracles" -> ops.flatMap(o =>
        SparkEntry.oracleSql.get(o.name).map(o.name -> _)).toMap,
      "machine" -> Map("start" -> machine0, "end" -> machine1),
      "peak_rss_kb" -> peakRssKb,
      "trace" -> trace.map(_.json).getOrElse(Map.empty))
    Files.writeString(Paths.get(out), Js(json))
  }

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch ms with sub-ms resolution, comparable with the
    * listener's task launch and finish times. */
  def epochMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Peak resident set size of this JVM (Linux `VmHWM`), in kB. */
  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Fixed-work CPU probe (seconds): a slow reading marks a slow window. */
  def speedProbe(): Double = {
    val t0 = System.nanoTime()
    var h = 0x243f6a8885a308dL
    var i = 0
    while (i < 50000000) {
      h += 0x9e3779b97f4a7c15L
      var z = h
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      h = z ^ (z >>> 31)
      i += 1
    }
    (System.nanoTime() - t0) / 1e9 + (if (h == 42L) 1e-12 else 0.0)
  }
}

/** The client session and the op runner. */
final class Driver(tables: List[String], ops: List[Driver.Op], data: String,
    work: String, cores: Int) {
  import Driver.Op

  private var ctx: SessionContext = _
  private def spark: SparkSession = ctx.spark

  val samples = ArrayBuffer.empty[Map[String, Any]]
  private val reference = scala.collection.mutable.Map.empty[Int, String]
  private val last = scala.collection.mutable.Map.empty[Int, (Array[Row], DataFrame)]
  private var sampleId = 0
  private var tracing: Option[Trace] = None

  /** The session + table registration; returns their wall times. */
  def start(scratch: String): (Double, Double) = {
    val t0 = System.nanoTime()
    ctx = SessionContext.local(cores = cores, shufflePartitions = cores)
    spark.conf.set("spark.graft.scratch", scratch)
    val t1 = System.nanoTime()
    tables.foreach(t => ctx.registerParquet(t, s"$data/$t.parquet"))
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def stop(): Unit = {
    Caches.releaseAll(spark)
    spark.stop()
  }

  /** Attaches the listeners; returns the time it took. */
  def attach(t: Trace): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.addSparkListener(t.spark)
    spark.listenerManager.register(t.queries)
    spark.streams.addListener(t.streams)
    tracing = Some(t)
    (System.nanoTime() - t0) / 1e9
  }

  /** Drains the listener bus and detaches; returns the time it took. */
  def detach(t: Trace): Double = {
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t.spark)
    spark.listenerManager.unregister(t.queries)
    spark.streams.removeListener(t.streams)
    tracing = None
    (System.nanoTime() - t0) / 1e9
  }

  /** Tags later listener events with `span`, after every event of the
    * previous span has been delivered; returns the time spent waiting. */
  private def enter(span: Int): Double = tracing.fold(0.0) { t =>
    val t0 = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    t.op = span
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs op `i` once and returns its time, including the listener-bus
    * drains of a traced op; pass -1 is the warm pass. Span ids are
    * `sample * 4 + phase` with phase 0 build, 1 action, 2 release. */
  def runOp(i: Int, pass: Int, traced: Boolean): Double = {
    val op = ops(i)
    val id = sampleId
    sampleId += 1
    var err: String = null
    var build, action, release, drain = 0.0
    var rows: Array[Row] = null
    var df: DataFrame = null
    var buildMs, actionMs = 0.0
    try {
      drain += enter(id * 4)
      buildMs = Driver.epochMs()
      val t0 = System.nanoTime()
      df = op.kind match {
        case "sql" => ctx.sql(Tpch.sql(op.name))
        case _ => SparkEntry.queries(op.name)(spark, data)
      }
      val t1 = System.nanoTime()
      build = (t1 - t0) / 1e9
      drain += enter(id * 4 + 1)
      actionMs = Driver.epochMs()
      val t2 = System.nanoTime()
      if (op.kind == "sink") ctx.writeParquet(df, sinkDir(op))
      else rows = ctx.collect(df)
      action = (System.nanoTime() - t2) / 1e9
    } catch {
      case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      drain += enter(id * 4 + 2)
      val t3 = System.nanoTime()
      Caches.releaseAll(spark)
      release = (System.nanoTime() - t3) / 1e9
      drain += enter(-1)
    }
    // correctness bookkeeping, outside the timed spans
    if (err == null) {
      if (op.kind == "sink") rows = spark.read.parquet(sinkDir(op)).collect()
      val fp = Fingerprint(rows)
      reference.get(i) match {
        case None => reference(i) = fp
        case Some(ref) if ref != fp => err = "result differs from the warm pass"
        case _ =>
      }
      if (err == null && op.kind != "sink") last(i) = (rows, df)
    }
    samples += Map("id" -> id, "op" -> op.name, "pass" -> pass,
      "traced" -> traced, "build_ms" -> buildMs, "action_ms" -> actionMs,
      "build_s" -> build, "action_s" -> action, "release_s" -> release,
      "drain_s" -> drain, "error" -> err)
    build + action + release + drain
  }

  private def sinkDir(op: Op): String = s"$work/sink/${op.name}"

  /** Writes the last good result of every collected op as parquet, and
    * names the sink directory of every written op, for the oracle check. */
  def dumpResults(dir: String): Map[String, String] =
    ops.zipWithIndex.flatMap { case (op, i) =>
      if (op.kind == "sink") Some(op.name -> sinkDir(op))
      else last.get(i).map { case (rows, df) =>
        val path = s"$dir/${op.name}"
        spark.createDataFrame(rows.toList.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        op.name -> path
      }
    }.toMap

  /** Build-once layouts under the active scratch root. */
  def scratchStats(): Map[String, Any] = {
    val root = new File(Scratch.root(spark))
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length
    val built = Option(root.listFiles()).map(_.count(d =>
      new File(d, "_BUILT").exists)).getOrElse(0)
    Map("layouts_built" -> built, "bytes" -> size(root))
  }
}

/** Order-insensitive result fingerprint; doubles are rounded to 9
  * significant digits so parallel float summation order cannot flip it. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b", ".", "")
    case other => other.toString
  }

  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }
}

/** Minimal JSON writer for the run artifact. */
object Js {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => graft.Json.quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => graft.Json.quote(other.toString)
  }
}
