package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.queries.Artifacts

/** Closed-loop driver for one workload: one client, each step starting only
  * after the previous one completed.
  *
  * Order of a run: set the session up several times (each set-up is session
  * start plus JVM/codegen warm-up, timed); a check pass that writes each
  * step's output for the oracle comparison and records its fingerprint; then
  * timed passes (at least `--passes`) until `--seconds` have gone. Between
  * passes the plan cache and the shared-artifact memo are cleared, outside
  * every timing window.
  * With `--trace 1` the timed passes alternate untraced and traced (at least
  * untraced, traced, untraced), so the record also holds the tracing
  * overhead.
  *
  * The run writes one JSON record (`--out`) and, when traced, its spans
  * (`--spans`); the launcher turns them into metrics.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *             --setups N --passes N --out FILE --spans FILE
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val setups = opt.getOrElse("setups", "3").toInt
    val minPasses = opt.getOrElse("passes", "2").toInt
    val cores = Runtime.getRuntime.availableProcessors
    val steps = Workloads.all(workload)
    new Main(workload, steps, data, work, seconds, traced, setups, minPasses, cores)
      .run(opt("out"), opt("spans"))
  }
}

final class Main(workload: String, steps: Seq[Step], data: String, work: String,
    seconds: Double, traced: Boolean, setups: Int, minTimedPasses: Int,
    cores: Int) {

  private var spark: SparkSession = _
  private val runId = s"$workload-${System.currentTimeMillis}"
  private val spans = ArrayBuffer[String]()
  private val errors = scala.collection.mutable.LinkedHashMap[String, String]()

  private def now(): Long = System.currentTimeMillis()
  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  // ---- set-up -------------------------------------------------------------

  private def newSession(i: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("layerbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"$work/warehouse-$i")
    .config("spark.local.dir", s"$work/local")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def setUp(i: Int): Double = timed {
    spark = newSession(i)
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$data/region.parquet").count()
  }

  private def tearDown(): Unit = {
    Artifacts.clear()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Between passes, outside every timing window: drop the plan cache and
    * the engine's shared-artifact memo, so no pass reuses what an earlier
    * one left behind. */
  private def resetBetweenPasses(): Double = timed {
    spark.sharedState.cacheManager.clearCache()
    Artifacts.clear()
  }

  // ---- host sentinel (the spin calibration of graft.Bench) ----------------

  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L; var acc = 0L; var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    acc
  }
  private val sink = new java.util.concurrent.atomic.AtomicLong
  private def calibrate(): Map[String, Double] = {
    spin(10000000L)
    val st = timed(sink.addAndGet(spin(50000000L)))
    val mt = timed {
      val ts = (1 to cores).map(_ => new Thread(() => sink.addAndGet(spin(50000000L)): Unit))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    Map("st_s" -> st, "mt_s" -> mt,
      "load" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }

  // ---- cache accounting ---------------------------------------------------

  private def cacheEntries(): Seq[CachedData] = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[CachedData]].toSeq
  }

  /** Count what the step left persisted, then release it. */
  private def releaseLeftovers(rddsBefore: Set[Int], cmBefore: Seq[CachedData]): Int = {
    val cm = spark.sharedState.cacheManager
    val newCm = cacheEntries().filterNot(e => cmBefore.exists(_ eq e))
    val newRdds = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !rddsBefore(id) }
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    newCm.foreach(e => cm.uncacheQuery(classic, e.plan, cascade = false, blocking = true))
    newRdds.values.foreach(_.unpersist(blocking = true))
    newCm.size + newRdds.size
  }

  // ---- output fingerprint -------------------------------------------------

  /** `df` with an observation attached that yields, from the same execution
    * that forces the output, its row count plus an order-insensitive hash
    * of the rows. Doubles are rounded to 6 decimals and maps rendered as
    * strings before hashing. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: MapType => c.cast(StringType)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("s"),
      coalesce(bit_xor(h), lit(0L)).as("x")), obs)
  }

  private def fingerprint(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("s")}:${m("x")}"
  }

  // ---- passes -------------------------------------------------------------

  private val check = scala.collection.mutable.Map[String, String]()
  private val checkS = scala.collection.mutable.Map[String, Double]()

  /** Warm-up pass, excluded from every metric: writes each step's output for
    * the oracle comparison and records the fingerprint the timed passes must
    * reproduce. */
  private def checkPass(): Unit = steps.foreach { s =>
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cm = cacheEntries()
    val n0 = System.nanoTime()
    try {
      val (df, obs) = observed(s.run(spark, data))
      if (s.oracle.isDefined) df.write.mode("overwrite").parquet(s"$work/out/${s.name}")
      else df.write.format("noop").mode("overwrite").save()
      check(s.name) = fingerprint(obs)
      checkS(s.name) = (System.nanoTime() - n0) / 1e9
    } catch {
      case NonFatal(e) =>
        errors.getOrElseUpdate(s.name, String.valueOf(e.getMessage).take(300))
        System.err.println(s"[layerbench] check ${s.name} FAILED: $e")
    }
    releaseLeftovers(rdds, cm)
  }

  /** Wait (at most 3 s) until the JIT compiler has been idle for 200 ms, so
    * background compilation of the previous pass's hot code does not compete
    * with the next timed pass for the cores. */
  private def quiesce(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var idle = 0
    var waited = 0
    while (idle < 2 && waited < 30) {
      Thread.sleep(100)
      val t = jit.getTotalCompilationTime
      idle = if (t == last) idle + 1 else 0
      last = t
      waited += 1
    }
  }

  /** Live heap right after a full collection: called at every step
    * boundary, outside the timing, so the pass's maximum is the highest heap
    * occupancy any step left behind, free of the eden fill level. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def runPass(index: Int, withTrace: Boolean): String = {
    val tr = if (withTrace) Some(new Trace(spark)) else None
    tr.foreach(_.attach())
    val passStart = now()
    val recs = steps.map { s =>
      val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val cm = cacheEntries()
      val t0 = now()
      val n0 = System.nanoTime()
      val result =
        try {
          val (df, obs) = observed(s.run(spark, data))
          df.write.format("noop").mode("overwrite").save()
          Right(obs)
        } catch { case NonFatal(e) => Left(String.valueOf(e.getMessage).take(300)) }
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = now()
      val err = result.left.toOption
      val fp = result.toOption.flatMap(o =>
        try Some(fingerprint(o)) catch { case NonFatal(_) => None })
      val heapMb = liveHeapMb()
      val leaked = releaseLeftovers(rdds, cm)
      err.foreach(m => errors.getOrElseUpdate(s.name, m))
      val ok = err.isEmpty && fp.isDefined && check.get(s.name) == fp
      System.err.println(f"[layerbench] pass $index ${s.name} $wall%.3fs ok=$ok leaked=$leaked")
      (s, t0, t1, wall, ok, leaked, err, heapMb)
    }
    val passEnd = now()
    tr.foreach(_.detach())
    val passSpan = s"pass-$index"
    if (withTrace) span(passSpan, "pass", passStart, passEnd, "workload")
    val stepJson = recs.map { case (s, t0, t1, wall, ok, leaked, err, heapMb) =>
      val layers = tr.map { t =>
        val m = t.window(t0, t1)
        span(s"$passSpan/${s.name}", "step", t0, t1, passSpan)
        t.jobsIn(t0, t1).foreach(j =>
          span(s"$passSpan/${s.name}/job-${j.id}", "job", j.start,
            if (j.end < 0) t1 else j.end, s"$passSpan/${s.name}"))
        Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)
      }
      Json.obj(Seq(
        "name" -> Json.str(s.name), "module" -> Json.str(s.module),
        "kernel" -> s.kernel.map(Json.str).getOrElse("null"),
        "wall_s" -> Json.num(wall), "heap_mb" -> Json.num(heapMb), "ok" -> ok.toString,
        "leaked" -> leaked.toString,
        "error" -> err.map(Json.str).getOrElse("null")) ++
        layers.map("layers" -> _): _*)
    }
    Json.obj("index" -> index.toString, "traced" -> withTrace.toString,
      "wall_s" -> Json.num(recs.map(_._4).sum),
      "peak_heap_mb" -> Json.num(recs.map(_._8).max), "steps" -> Json.arr(stepJson))
  }

  private def span(name: String, level: String, start: Long, end: Long, parent: String): Unit =
    spans += Json.obj("run" -> Json.str(runId), "name" -> Json.str(name),
      "level" -> Json.str(level), "start" -> start.toString, "end" -> end.toString,
      "parent" -> Json.str(parent))

  def run(out: String, spansOut: String): Unit = {
    val setupS = (1 to setups).map { i =>
      if (i > 1) { tearDown(); System.gc() }
      setUp(i)
    }
    val cal0 = calibrate()
    checkPass()
    val resets = ArrayBuffer[Double]()
    val passes = ArrayBuffer[String]()
    val minPasses = if (traced) minTimedPasses max 3 else minTimedPasses
    val runStart = now()
    var i = 0
    while (i < minPasses || (now() - runStart) / 1e3 < seconds) {
      resets += resetBetweenPasses()
      quiesce()
      passes += runPass(i, traced && i % 2 == 1)
      i += 1
    }
    val runEnd = now()
    val cal1 = calibrate()
    if (traced) span("workload", "workload", runStart, runEnd, "")
    def calJson(m: Map[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }: _*)
    val record = Json.obj(
      "workload" -> Json.str(workload), "run_id" -> Json.str(runId),
      "cores" -> cores.toString, "traced" -> traced.toString,
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "reset_s" -> Json.arr(resets.toSeq.map(Json.num)),
      "sentinel" -> Json.obj("start" -> calJson(cal0), "end" -> calJson(cal1)),
      "steps" -> Json.arr(steps.map(s => Json.obj(
        "name" -> Json.str(s.name), "module" -> Json.str(s.module),
        "kernel" -> s.kernel.map(Json.str).getOrElse("null"),
        "oracle" -> s.oracle.map(Json.str).getOrElse("null"),
        "fingerprint" -> check.get(s.name).map(Json.str).getOrElse("null"),
        "check_s" -> checkS.get(s.name).map(Json.num).getOrElse("null")))),
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "passes" -> Json.arr(passes.toSeq))
    Files.writeString(Paths.get(out), record)
    if (traced) Files.writeString(Paths.get(spansOut), spans.mkString("", "\n", "\n"))
    tearDown()
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
