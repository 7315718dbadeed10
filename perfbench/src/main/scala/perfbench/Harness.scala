package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{FetchStage, LeadPipeline}

/** Drives one benchmark run through the engine's public entry points and
  * writes a JSON run record; run.py turns that record into metrics.
  *
  * Usage: Harness <config.properties>. Keys: workload (registry |
  * lead-etl), passes, trace (0|1), setups, cores, work, out, launch_ms; the
  * registry adds data, warm, ops, verify; lead-etl adds lead.{bulk, initial,
  * batches} and their small warm-pass twins lead.warm_{bulk, initial,
  * batches}, as `a-b` id windows (batches `;`-separated).
  *
  * A run is: `setups` set-ups (session start, then an untimed warm pass of
  * every operation; the first counts from process launch), then
  * `passes` closed-loop timed passes, then any correctness reference work,
  * off the clock. Every pass starts from released staged tables, scoped
  * checkpoints and drained streams, so every pass pays the same builds. */
object Harness {

  final case class OpResult(name: String, latMs: Double, constructMs: Double,
      actionMs: Double, digest: String, error: String, extra: Seq[(String, String)])

  final case class PassResult(traced: Boolean, ops: Seq[OpResult], builds: Int,
      buildMs: Double, extra: Seq[(String, String)]) {
    def wallMs: Double = ops.map(_.latMs).sum
  }

  def main(args: Array[String]): Unit = {
    val cfg = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try cfg.load(in) finally in.close()
    def get(k: String) = Option(cfg.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))
    def list(k: String, sep: String = ",") =
      Option(cfg.getProperty(k)).map(_.split(sep).map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    val run = new Run(get("workload"), get("work"), get("cores").toInt,
      get("passes").toInt, get("trace") == "1", get("setups").toInt,
      get("launch_ms").toDouble, get, list)
    val record = run.execute()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(get("out")), record)
  }

  /** Order-insensitive digest over every output column: row count plus the
    * two 32-bit halves of the summed per-row xxhash64, and the schema. A
    * digest reads every column, so none can be pruned from the plan. */
  def digest(df: DataFrame): String = {
    val n = df.columns.length
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").hashCode
    s"${l(0)}:${l(1)}:${l(2)}:${schema & 0xFFFFFFFFL}"
  }

  def rowCount(digest: String): Long = digest.takeWhile(_ != ':').toLong

  /** Memory the program holds: heap in use right after a full collection
    * (what the engine retains: staged tables, cached and checkpointed
    * blocks, broadcasts) plus non-heap in use (metaspace, code cache). */
  def liveMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def window(s: String): (Long, Long) = {
    val Array(a, b) = s.split("-").map(_.trim.toLong)
    (a, b)
  }
}

final class Run(workload: String, work: String, cores: Int, nPasses: Int,
    trace: Boolean, setups: Int, launchMs: Double, get: String => String,
    list: (String, String) => Seq[String]) {
  import Harness._

  private val tracer = new Tracer
  private var spark: SparkSession = _
  private val warmErrors = mutable.ArrayBuffer.empty[String]
  private var peakLiveMb = 0.0
  private var nextOp = 0L

  private def newSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Frees every staged table, drained stream and scoped checkpoint. */
  private def releaseAll(): Unit = {
    graft.queries.TextOps.releaseShingles()
    graft.Checkpoints.releaseScoped()
  }

  private def stagedTotals(): (Int, Double) = {
    val names = graft.queries.TextOps.buildStageTotals
    val timings = graft.queries.TextOps.stageTimings
    (names.keys.toSeq.map(k => timings.getOrElse(k, Nil).size).sum, names.values.sum * 1000)
  }

  private def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
    }
  }

  private def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  private def err(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  // --- query workloads ------------------------------------------------------

  private lazy val registry = graft.SparkEntry.registry

  /** One query: construct inside Q.run (eager work happens here), then the
    * digest action. Off-clock: the previous query's scoped checkpoints. */
  private def queryOp(name: String, dir: String, traced: Boolean): OpResult = {
    graft.Checkpoints.releaseScoped()
    val sc = spark.sparkContext
    val opId = { nextOp += 1; nextOp }
    tracer.currentOp = opId
    var constructMs = 0.0
    var actionMs = 0.0
    var digestV = ""
    var error = ""
    val t0 = System.nanoTime()
    tracer.span(sc, "queries.op", name, -1L) { opSpan =>
      try {
        val c0 = System.nanoTime()
        val df = tracer.span(sc, "queries.construct", name, opSpan)(_ =>
          registry(name).run(spark, dir))
        val c1 = System.nanoTime()
        digestV = tracer.span(sc, "queries.action", name, opSpan)(_ => digest(df))
        constructMs = (c1 - c0) / 1e6
        actionMs = (System.nanoTime() - c1) / 1e6
      } catch { case t: Throwable => error = err(t) }
    }
    val lat = (System.nanoTime() - t0) / 1e6
    if (traced) {
      tracer.max("checkpoints.scoped_peak", graft.Checkpoints.scopedCount.toDouble)
      val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      tracer.max("storage.peak_mb", mb)
    }
    OpResult(name, lat, constructMs, actionMs, digestV, error, Nil)
  }

  // --- lead-etl -------------------------------------------------------------

  private def leads(a: Long, b: Long): DataFrame =
    LeadPipeline.dedup(LeadPipeline.clean(LeadPipeline.extract(
      FetchStage.fetchPages(LeadPipeline.collect(spark, a, b)))), "url")

  private def bulkOp(a: Long, b: Long, sink: String): OpResult = {
    deleteTree(sink); deleteTree(sink + "_audit")
    val sc = spark.sparkContext
    val opId = { nextOp += 1; nextOp }
    tracer.currentOp = opId
    val t0 = System.nanoTime()
    var error = ""
    var records = -1L
    tracer.span(sc, "etl.bulk", s"bulk $a-$b", -1L) { _ =>
      try {
        val r = graft.app.Main.runBulk(spark, a, b, sink)
        records = r.recordsProcessed
        if (r.status != "success") error = s"status ${r.status}: ${r.message}"
      } catch { case t: Throwable => error = err(t) }
    }
    val lat = (System.nanoTime() - t0) / 1e6
    OpResult("bulk", lat, 0.0, 0.0, "", error,
      Seq("records" -> records.toString, "ids" -> (b - a + 1).toString))
  }

  private def upsertOp(a: Long, b: Long, target: String): OpResult = {
    val sc = spark.sparkContext
    val opId = { nextOp += 1; nextOp }
    tracer.currentOp = opId
    val t0 = System.nanoTime()
    var error = ""
    tracer.span(sc, "etl.upsert", s"upsert $a-$b", -1L) { _ =>
      try LeadPipeline.upsertPartitioned(spark, leads(a, b), target, "id_negocio")
      catch { case t: Throwable => error = err(t) }
    }
    val lat = (System.nanoTime() - t0) / 1e6
    OpResult("upsert", lat, 0.0, 0.0, "", error,
      Seq("ids" -> (b - a + 1).toString))
  }

  private def targetDigest(target: String): String =
    digest(LeadPipeline.readPartitionedTarget(spark, target).drop("fecha_extraccion"))

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists()) 0L
    else java.nio.file.Files.walk(f.toPath).filter(x => java.nio.file.Files.isRegularFile(x))
      .mapToLong(x => java.nio.file.Files.size(x)).sum()
  }

  // --- passes ---------------------------------------------------------------

  private def leadWindows(prefix: String) = (
    window(get(s"lead.${prefix}bulk")),
    window(get(s"lead.${prefix}initial")),
    list(s"lead.${prefix}batches", ";").map(window))
  private def pristine(prefix: String) = s"$work/lead/${prefix}pristine"

  /** Builds the upsert target every pass starts from (off the clock). */
  private def buildPristine(prefix: String): Unit = {
    val (_, (a, b), _) = leadWindows(prefix)
    deleteTree(pristine(prefix))
    LeadPipeline.upsertPartitioned(spark, leads(a, b), pristine(prefix), "id_negocio")
  }

  /** Delivers the pass's pending listener events, then stops recording. */
  private def stopTrace(): Unit = if (tracer.enabled) {
    org.apache.spark.sql.GraftListenerBridge.flush(spark.sparkContext)
    tracer.enabled = false
  }

  private def pass(traced: Boolean, warm: Boolean, sample: Boolean = false): PassResult = {
    releaseAll()
    System.gc()
    // events of the previous pass still on the listener bus go before
    // recording starts
    if (traced) org.apache.spark.sql.GraftListenerBridge.flush(spark.sparkContext)
    tracer.enabled = traced
    val (b0, bms0) = stagedTotals()
    // off the clock, after every operation of a sampled pass: the memory the
    // program holds then, while the operation's state is still live
    def sampled(o: OpResult): OpResult = {
      if (sample) peakLiveMb = math.max(peakLiveMb, liveMb())
      o
    }
    val (ops, extra) = workload match {
      case "lead-etl" =>
        val prefix = if (warm) "warm_" else ""
        val ((ba, bb), _, batches) = leadWindows(prefix)
        val target = s"$work/lead/target"
        copyTree(pristine(prefix), target)
        val bulk = sampled(bulkOp(ba, bb, s"$work/lead/sink"))
        val ups = batches.map { case (a, b) => sampled(upsertOp(a, b, target)) }
        stopTrace()
        // off clock, timed passes only: the final target state, for the
        // correctness check and the write-amplification base
        if (warm) (bulk +: ups, Nil)
        else {
          val (dg, bytes) =
            try (targetDigest(target), dirBytes(target))
            catch { case t: Throwable => ("error: " + err(t), 0L) }
          val rows = if (dg.startsWith("error")) 0L else rowCount(dg)
          (bulk +: ups, Seq("target_digest" -> Json.str(dg), "target_bytes" -> bytes.toString,
            "target_rows" -> rows.toString))
        }
      case _ =>
        val dir = if (warm) get("warm") else get("data")
        (list("ops", ",").map(n => sampled(queryOp(n, dir, traced))), Nil)
    }
    stopTrace()
    val (b1, bms1) = stagedTotals()
    PassResult(traced, ops, b1 - b0, bms1 - bms0, extra)
  }

  def execute(): String = {
    // set-up i: session start (from process launch for the first), then the
    // warm pass; building the upsert targets' initial state is input
    // generation and stays off the clock. The warm pass runs on a small
    // input: the registry's at sf0.001, lead-etl's on small id windows.
    val setupMs = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until setups) {
      val t0 = if (i == 0) launchMs else System.currentTimeMillis().toDouble
      spark = newSession()
      val ready = System.currentTimeMillis() - t0
      if (i == 0 && workload == "lead-etl") Seq("warm_", "").foreach(buildPristine)
      val w0 = System.nanoTime()
      val p = pass(traced = false, warm = true)
      setupMs += ready + (System.nanoTime() - w0) / 1e6
      p.ops.filter(_.error.nonEmpty).foreach(o => warmErrors += s"${o.name}: ${o.error}")
      if (i < setups - 1) { releaseAll(); spark.stop() }
    }
    val anchor = if (trace) graft.HostAnchor.parallel(cores) else 0.0
    if (trace) tracer.install(spark)

    // closed loop: one operation at a time, `passes` passes. A traced run
    // interleaves untraced, traced and untraced passes, so the tracing
    // overhead is not confused with warm-up drift.
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val start = System.nanoTime()
    // The last pass also samples memory; one pass only, since a full
    // collection per operation costs about a fifth of a second.
    for (i <- 0 until nPasses)
      passes += pass(traced = trace && i % 2 == 1, warm = false, sample = i == nPasses - 1)
    val measuredMs = (System.nanoTime() - start) / 1e6
    if (trace) tracer.uninstall(spark)

    // correctness references, off every clock
    val verify = mutable.ArrayBuffer.empty[(String, String)]
    val leadRef = mutable.ArrayBuffer.empty[(String, String)]
    workload match {
      case "lead-etl" =>
        val (_, initial, batches) = leadWindows("")
        val union = (initial +: batches).map { case (a, b) => leads(a, b) }
          .reduce(_ unionByName _)
        val ref = LeadPipeline.dedup(union, "url").drop("fecha_extraccion")
        leadRef += "expected_digest" -> Json.str(digest(ref))
      case _ =>
        val oracle = graft.SparkEntry.oracleSql
        list("verify", ",").foreach { name =>
          releaseAll()
          val out = s"$work/verify/$name"
          deleteTree(out)
          val entry =
            try {
              registry(name).run(spark, get("data")).write.parquet(out)
              Json.obj(Seq("dir" -> Json.str(out),
                "digest" -> Json.str(digest(spark.read.parquet(out))),
                "oracle" -> oracle.get(name).map(Json.str).getOrElse("null")))
            } catch { case t: Throwable => Json.obj(Seq("error" -> Json.str(err(t)))) }
          verify += name -> entry
        }
    }
    releaseAll()
    spark.stop()

    def opJson(o: OpResult) = Json.obj(Seq(
      "name" -> Json.str(o.name), "lat_ms" -> Json.num(o.latMs),
      "construct_ms" -> Json.num(o.constructMs), "action_ms" -> Json.num(o.actionMs),
      "digest" -> Json.str(o.digest), "error" -> Json.str(o.error)) ++ o.extra)
    def passJson(p: PassResult) = Json.obj(Seq(
      "traced" -> p.traced.toString, "wall_ms" -> Json.num(p.wallMs),
      "staged_builds" -> p.builds.toString, "staged_build_ms" -> Json.num(p.buildMs),
      "ops" -> Json.arr(p.ops.map(opJson))) ++ p.extra)
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup_ms" -> Json.arr(setupMs.toSeq.map(Json.num)),
      "warm_errors" -> Json.arr(warmErrors.toSeq.map(Json.str)),
      "measured_ms" -> Json.num(measuredMs),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "peak_live_mb" -> Json.num(peakLiveMb),
      "anchor_par_ms" -> Json.num(anchor),
      "verify" -> Json.obj(verify.toSeq),
      "lead" -> Json.obj(leadRef.toSeq),
      "trace" -> (if (trace) tracer.json() else "null")))
  }
}
