package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.CrimePipeline
import graft.sources.Sinks

/** Benchmark JVM: one closed-loop client thread running one workload
  * against the program's public entry points, timing only those calls.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <input> <workDir>
  *        <minPasses>
  *
  * `input` is the generated table directory (query workloads) or crime CSV
  * (`crime_etl`). Writes `<workDir>/result.json`: host posture, set-up
  * time, per-pass operation times and CPU, peak RSS and the spans of the
  * run; `perfbench/run.py` turns it into metrics. The cold first pass is
  * part of set-up and writes the outputs the oracle checks; the measured
  * passes follow it, at least `minPasses` of them and more until the
  * window of `seconds` is full. Passes are isolated from each other
  * outside the timed window. With tracing on, even passes run
  * with [[Tracer]] registered and odd passes without, so one run yields
  * both the per-layer numbers and the tracing overhead. */
object Harness {
  val olapInteractive: Seq[String] = Seq(
    "a2_weekly_histogram", "a2_weekly_long", "a2_dotw_histogram",
    "a3_daily_cube", "a3_daily_cube_indexed", "a4_category_totals",
    "a6_dict_event_type", "p5_date_normalize", "star_dim_category",
    "star_dim_district", "star_dim_time", "star_fact", "a5_sum_by_category",
    "a5_sum_by_district", "olap_rollup_time", "olap_grouping_sets",
    "olap_cube_cat_district", "q1_pricing_summary", "q3_top_urgent_orders",
    "win_session_30m")

  val corpusHeavy: Seq[String] = Seq(
    "dedup_minhash_lsh", "win_ntile_priority", "profile_equidepth_hist")

  /** Seconds after JVM start past which a run measures no pass beyond the
    * second, so a run on a slowed-down host still ends in time. */
  val lateS = 100.0

  /** Spans of the whole run, kept in memory and written at the end. */
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def span(kind: String, name: String, parent: String, start: Double,
      end: Double, attrs: Map[String, Any] = Map.empty,
      id: String = s"s${spans.size}"): String = {
    spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start_ms" -> start, "end_ms" -> end) ++ attrs
    id
  }

  /** One operation's phases: each `build` / `execute` call is a child span
    * of the operation span. */
  final class OpCtx(val opId: String) {
    def build[T](label: String)(f: => T): T = phase("build", label)(f)
    def execute[T](label: String)(f: => T): T = phase("execute", label)(f)
    private def phase[T](kind: String, label: String)(f: => T): T = {
      val t0 = nowMs
      try f finally span(kind, label, opId, t0, nowMs)
    }
  }

  final case class Op(name: String, run: OpCtx => Unit)

  /** Exits explicitly, so no lingering non-daemon thread can keep a failed
    * run's JVM alive. */
  def main(args: Array[String]): Unit =
    sys.exit(try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 })

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, input, workDir, minS) = args
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionMs = nowMs

    val tsvDir = s"$workDir/tsv"
    val verifyDir = s"$workDir/verify"
    var derbyDb = ""
    val isCrime = workload == "crime_etl"
    val queryNames = workload match {
      case "olap_interactive" => olapInteractive
      case "corpus_heavy" => corpusHeavy
      case "crime_etl" => Nil
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    /** One query: build the DataFrame, then write every row and column, to
      * the noop sink or, on the verifying pass, to Parquet for the oracle. */
    def queryOp(name: String, verify: Boolean) = Op(name, ctx => {
      val df = ctx.build("build")(SparkEntry.queries(name)(spark, input))
      ctx.execute("execute") {
        if (verify) df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
        else df.write.format("noop").mode("overwrite").save()
      }
    })

    /** One `crime_etl` pass: both MR jobs and the OLAP prep to TSV, then
      * the LoadStarDB step into an in-memory Derby star. */
    def crimeOp(pass: Int) = Op("crime_etl", ctx => {
      derbyDb = s"star$pass"
      val url = s"jdbc:derby:memory:$derbyDb;create=true"
      ctx.execute("runAll")(CrimePipeline.runAll(spark, input, tsvDir))
      val (cats, dists, fact) = ctx.build("load.build") {
        val crime = CrimePipeline.readCrimeCsv(spark, input)
        (CrimePipeline.dictionary0(crime, "Category"),
          CrimePipeline.dictionary0(crime, "PdDistrict"),
          CrimePipeline.dailyTriplets(crime))
      }
      ctx.execute("load.category")(Sinks.writeJdbc(cats, url, "category", "", ""))
      ctx.execute("load.district")(Sinks.writeJdbc(dists, url, "district", "", ""))
      ctx.execute("load.fact")(Sinks.writeJdbc(fact, url, "fact", "", ""))
    })

    def passOps(pass: Int, verify: Boolean): Seq[Op] =
      if (isCrime) Seq(crimeOp(pass))
      else new Random(seed * 7919 + pass).shuffle(queryNames).map(queryOp(_, verify))

    /** Outside the timed window: no cached data, RDD blocks, shuffle files,
      * TSV output or Derby database survives into the next pass. */
    def isolate(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      PerfbenchAccess.releaseShuffles(sc)
      deleteTree(Paths.get(tsvDir))
      if (derbyDb.nonEmpty) dropDerby(derbyDb)
      System.gc()
    }

    val tracer = new Tracer
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jitBean = ManagementFactory.getCompilationMXBean
    var attempted, failed = 0
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    def runPass(pass: Int, kind: String, withTracer: Boolean,
        verify: Boolean = false): Unit = {
      isolate()
      if (withTracer) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val cpu0 = osBean.getProcessCpuTime
      val jit0 = jitBean.getTotalCompilationTime
      val pass0 = nowMs
      var total = 0.0
      passOps(pass, verify).zipWithIndex.foreach { case (op, k) =>
        val opId = s"p$pass.o$k"
        sc.setJobGroup(opId, op.name)
        val ctx = new OpCtx(opId)
        val t0 = nowMs
        val err = try { op.run(ctx); None } catch { case e: Throwable => Some(e.toString) }
        val t1 = nowMs
        sc.clearJobGroup()
        total += t1 - t0
        attempted += 1
        err.foreach { e =>
          failed += 1
          System.err.println(s"[perfbench] ${op.name} failed: $e")
        }
        var attrs = Map[String, Any]("pass" -> pass, "ok" -> err.isEmpty,
          "cached_bytes" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        if (withTracer) {
          PerfbenchAccess.drainListenerBus(sc)
          val t = tracer.take()
          attrs ++= t.phasesMs.map { case (k, v) => s"phase_${k}_ms" -> v }
          recordListenerSpans(t, opId)
        }
        span("op", op.name, s"pass$pass", t0, t1, attrs, id = opId)
      }
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val jit = (jitBean.getTotalCompilationTime - jit0) / 1e3
      span("pass", kind, "run", pass0, nowMs, Map("pass" -> pass), id = s"pass$pass")
      if (withTracer) {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      passes += Map("pass" -> pass, "kind" -> kind, "traced" -> withTracer,
        "wall_s" -> total / 1e3, "cpu_s" -> cpu, "jit_s" -> jit)
    }

    // set-up: JVM start to ready session, plus the cold first pass, which
    // writes the query outputs the oracle checks (crime_etl's last pass
    // leaves the TSV and Derby star it checks)
    deleteTree(Paths.get(verifyDir))
    Files.createDirectories(Paths.get(verifyDir))
    runPass(0, "cold", withTracer = false, verify = true)
    val setupS = (nowMs - jvmStartMs) / 1e3
    val windowStart = nowMs
    def measureMore(done: Int): Boolean =
      if ((nowMs - jvmStartMs) / 1e3 > lateS) done < 2
      else done < minS.toInt || (nowMs - windowStart) / 1e3 < seconds
    var pass = 1
    while (measureMore(pass - 1)) {
      runPass(pass, "measured", withTracer = traced && pass % 2 == 0)
      pass += 1
    }
    val peakRssMb = procStatusKb("VmHWM") / 1024.0

    // correctness outputs, outside every timed window
    val verifyFailures = mutable.ArrayBuffer[String]()
    if (isCrime) {
      val props = new java.util.Properties()
      for (t <- Seq("category", "district", "fact"))
        try spark.read.jdbc(s"jdbc:derby:memory:$derbyDb", t, props).coalesce(1)
          .write.option("header", "true").csv(s"$verifyDir/derby_$t")
        catch { case e: Throwable => verifyFailures += s"derby_$t: $e" }
    } else
      Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"),
        Json(queryNames.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    spark.stop()

    val posture = Map(
      "jvm_cpus" -> cores, "master" -> s"local[$cores]",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "shuffle_partitions" -> cores)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "posture" -> posture, "session_s" -> (sessionMs - jvmStartMs) / 1e3,
      "setup_s" -> setupS, "attempted" -> attempted, "failed" -> failed,
      "peak_rss_mb" -> peakRssMb, "passes" -> passes.toSeq,
      "verify_failures" -> verifyFailures.toSeq, "spans" -> spans.toSeq)
    Files.writeString(Paths.get(s"$workDir/result.json"), Json(result))
  }

  /** Job spans under the build/execute span they started in, stage spans
    * under their job; linked to the operation through its job group. */
  private def recordListenerSpans(t: Trace, opId: String): Unit = {
    val phases = spans.filter(_("parent") == opId)
    val jobSpan = t.jobs.filter(_("group") == opId).map { j =>
      val start = j("start_ms").asInstanceOf[Long].toDouble
      val parent = phases.find(p => p("start_ms").asInstanceOf[Double] <= start &&
        start <= p("end_ms").asInstanceOf[Double] + 1).map(_("id")).getOrElse(opId)
      val end = j.get("end_ms").map(_.asInstanceOf[Long].toDouble).getOrElse(start)
      j("job") -> span("job", j("site").toString, parent.toString, start, end,
        j - "start_ms" - "end_ms")
    }.toMap
    for (s <- t.stages; parent <- jobSpan.get(s("job")))
      span("stage", s"stage ${s("stage")}", parent,
        s("start_ms").asInstanceOf[Long].toDouble,
        s("end_ms").asInstanceOf[Long].toDouble, s - "start_ms" - "end_ms")
  }

  private def dropDerby(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => } // a successful drop reports 08006

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)))

  private def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
