package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.{Random, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.io.{LakePaths, Layers}

/** The benchmark harness: one run of one workload, from outside graft.
  *
  * A run sets the session up three times (the median is `setup_s`), runs
  * and checks every query once to warm up, then runs the workload in a
  * closed loop, one operation at a time, in whole passes over its operation
  * list, each in a seeded order: `seconds` divided by the workload's
  * nominal pass time, rounded, at least one. A full GC follows every call,
  * outside its timed window, so no call inherits another's garbage. With
  * `trace` off it reports the end-to-end metrics; with `trace` on it runs
  * three passes, untraced, traced, untraced, and reports the per-layer
  * metrics of the traced one, plus traced minus the last untraced pass as
  * the tracing overhead.
  *
  * Every operation's result is checked against fingerprints recorded with
  * `--record 1`, outside the timed window: a query's in the warm-up, the
  * pipeline's after its run.
  */
object Main {

  final case class Conf(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, out: String,
      expected: String, record: Boolean)

  val Cores = 4
  val Setups = 3
  /** The sf0.001 call each set-up makes. */
  val SetupQuery = "q04"
  val ProfileTolerance = 0.05

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val result = if (c.record) { record(c); None } else Some(run(c))
    result.foreach(println)
  }

  private def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workloads.byName(get("workload"))
      .getOrElse(sys.error(s"unknown workload ${get("workload")}"))
    Conf(w, get("seed").toLong, get("seconds").toDouble,
      kv.get("trace").contains("1"), get("data"), get("work"), get("out"),
      get("expected"), kv.get("record").contains("1"))
  }

  // ---- session, operations ------------------------------------------------

  private def session(): SparkSession = {
    val s = graft.GraftSession
      .configure(SparkSession.builder().master(s"local[$Cores]").appName("perfbench"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val registry = graft.SparkEntry.queries

  /** `q07` names the registered query `q07_median_quantiles`. */
  def resolve(short: String): String =
    registry.keys.filter(_.startsWith(short + "_")).toSeq match {
      case Seq(one) => one
      case other => sys.error(s"$short matches ${other.mkString(", ")}")
    }

  private def now(): Long = System.currentTimeMillis()

  /** One timed query call: construction, then the forced noop write.
    * Returns the epoch-ms boundaries and the nanosecond latency.
    */
  private final case class QueryCall(t0: Long, t1: Long, t2: Long, ns: Long)

  private def callQuery(spark: SparkSession, op: String, dir: String): QueryCall = {
    val n0 = System.nanoTime()
    val t0 = now()
    val df = registry(resolve(op))(spark, dir)
    val t1 = now()
    df.write.mode("overwrite").format("noop").save()
    val t2 = now()
    QueryCall(t0, t1, t2, System.nanoTime() - n0)
  }

  private def lakeSeed(seed: Long): Int = Math.floorMod(seed, Workloads.LakeSeeds.toLong).toInt

  private def writeBronze(spark: SparkSession, lake: LakePaths, nRows: Long, k: Int): Unit = {
    Layers.writeCsv(graft.gen.Generators.traffic(spark, nRows, 1000L + k),
      lake.bronze("traffic_raw.csv"), singleFile = true)
    Layers.writeCsv(graft.gen.Generators.weather(spark, nRows, 2000L + k),
      lake.bronze("weather_raw.csv"), singleFile = true)
  }

  private def lakePath(lake: LakePaths, t: Workloads.LakeTable): String =
    if (t.layer == "silver") lake.silver(t.table) else lake.gold(t.table)

  // ---- expected fingerprints ------------------------------------------------

  private def expectedFile(c: Conf) = Paths.get(c.expected, s"${c.workload.name}.tsv")

  private def loadExpected(c: Conf): Map[String, Fp] =
    if (!Files.exists(expectedFile(c))) Map.empty
    else new String(Files.readAllBytes(expectedFile(c)), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\t").toSeq
        f.head -> Fp.parse(f.tail)
      }.toMap

  private def lakeKey(k: Int, t: Workloads.LakeTable) = s"seed$k/${t.table}"

  private def lakeFingerprint(spark: SparkSession, lake: LakePaths, t: Workloads.LakeTable): Fp = {
    val df = spark.read.parquet(lakePath(lake, t))
    if (t.profiled) Fingerprint.profile(df) else Fingerprint.of(df)
  }

  /** Record the fingerprints of every operation at this commit. */
  private def record(c: Conf): Unit = {
    val spark = session()
    val lines = ArrayBuffer.empty[String]
    c.workload match {
      case w: QueryWorkload =>
        for (op <- w.ops) {
          val fp = Fingerprint.of(registry(resolve(op))(spark, s"${c.data}/sf0.1"))
          lines += s"$op\t${fp.render}"
          System.err.println(s"[perfbench] recorded $op ${fp.render}")
        }
      case w: LakeWorkload =>
        val lake = LakePaths(new File(c.work, "lake").getAbsolutePath)
        for (k <- 0 until Workloads.LakeSeeds) {
          writeBronze(spark, lake, w.nRows, k)
          graft.Pipeline.run(spark, lake, generate = false, nRows = w.nRows)
          for (t <- Workloads.lakeTables) {
            val fp = lakeFingerprint(spark, lake, t)
            lines += s"${lakeKey(k, t)}\t${fp.render}"
            System.err.println(s"[perfbench] recorded ${lakeKey(k, t)} ${fp.render}")
          }
        }
    }
    spark.stop()
    Files.createDirectories(expectedFile(c).getParent)
    Files.write(expectedFile(c), (s"# ${c.workload.name}: key, rows, hash, " +
      "profiled column sums of |x|\n" + lines.mkString("", "\n", "\n")).getBytes(UTF_8))
  }

  // ---- the run --------------------------------------------------------------

  private final case class Call(op: String, pass: Int, traced: Boolean, ns: Long, ok: Boolean)

  def run(c: Conf): String = {
    val cal0 = Box.calibrationMs
    val load0 = Box.loadavg
    val steal0 = Box.stealSeconds
    val mainStart = now()
    val expected = loadExpected(c)
    val lake = LakePaths(new File(c.work, "lake").getAbsolutePath)
    val k = lakeSeed(c.seed)

    // -- set-up, repeated; the last session is kept
    val setupS = ArrayBuffer.empty[Double]
    val bronzeS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to Setups) {
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session()
      c.workload match {
        case _: QueryWorkload =>
          callQuery(spark, SetupQuery, s"${c.data}/sf0.001")
        case w: LakeWorkload =>
          val g0 = System.nanoTime()
          writeBronze(spark, lake, w.nRows, k)
          bronzeS += (System.nanoTime() - g0) / 1e9
      }
      setupS += (System.nanoTime() - s0) / 1e9
    }

    // -- the closed loop
    val probe = new Probe
    val tracer = new Tracer(c.workload, Cores)
    val calls = ArrayBuffer.empty[Call]
    val passNs = ArrayBuffer.empty[(Boolean, Long)]
    val checked = LinkedHashMap.empty[String, String]
    var checkFailures = 0
    var lakeRatio = Double.NaN
    var lakeFiles = 0L
    val opNames: Seq[String] = c.workload match {
      case w: QueryWorkload => w.ops
      case _ => Seq("pipeline")
    }
    def check(key: String, fp: => Fp, profiled: Boolean): Unit =
      if (!checked.contains(key)) {
        val actual = Try(fp)
        val ok = (expected.get(key), actual) match {
          case (Some(e), Success(a)) =>
            if (profiled) Fingerprint.matches(e, a, ProfileTolerance) else e == a
          case _ => false
        }
        val shown = actual.map(_.render).recover { case e => s"error: $e" }.get
        if (!ok) {
          checkFailures += 1
          System.err.println(s"[perfbench] output check failed: $key expected " +
            s"${expected.get(key).map(_.render).getOrElse("none")} got $shown")
        }
        checked(key) = shown
      }

    // -- warm-up and output check, untimed: every query once on the sf0.1
    // tables, executed by its fingerprint, so the timed calls run with the
    // JIT and Spark's code generation warm. The pipeline is not warmed up: an
    // operator runs it once per JVM, as a batch job, and pays that cost
    // every time; it is checked after its timed run.
    val warm0 = System.nanoTime()
    c.workload match {
      case w: QueryWorkload =>
        for (op <- w.ops)
          check(op, Fingerprint.of(registry(resolve(op))(spark, s"${c.data}/sf0.1")), profiled = false)
      case _ =>
    }
    System.gc()
    val warmupS = (System.nanoTime() - warm0) / 1e9

    var tracedGcMs = 0L
    DriverMemory.resetPeak()
    // the pass count follows from --seconds and the workload's nominal pass
    // time, not from this box's speed, so every run takes the same samples
    val passes =
      if (c.trace) 3 else math.max(1, math.round(c.seconds / c.workload.passSeconds).toInt)
    val loop0 = System.nanoTime()
    for (pass <- 0 until passes) {
      val traced = c.trace && pass % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val order = new Random(c.seed * 1000003L + pass).shuffle(opNames)
      var thisPass = 0L
      for (op <- order) {
        val gcBefore = DriverMemory.gcMs
        def afterCall(): Unit = if (traced) tracedGcMs += DriverMemory.gcMs - gcBefore
        c.workload match {
          case w: QueryWorkload =>
            val call = try Right(callQuery(spark, op, s"${c.data}/sf0.1"))
            catch { case NonFatal(e) => Left(e) }
            call match {
              case Right(q) =>
                afterCall()
                thisPass += q.ns
                calls += Call(op, pass, traced, q.ns, ok = true)
                if (traced) {
                  org.apache.spark.ListenerBusDrain(spark.sparkContext)
                  tracer.queryCall(q.t0, q.t1, q.t2, probe.take())
                }
              case Left(e) =>
                System.err.println(s"[perfbench] $op failed: $e")
                calls += Call(op, pass, traced, 0L, ok = false)
            }
          case w: LakeWorkload =>
            val n0 = System.nanoTime()
            val t0 = now()
            val ok = try { graft.Pipeline.run(spark, lake, generate = false, nRows = w.nRows); true }
            catch { case NonFatal(e) => System.err.println(s"[perfbench] pipeline failed: $e"); false }
            val ns = System.nanoTime() - n0
            val t2 = now()
            afterCall()
            thisPass += ns
            calls += Call(op, pass, traced, ns, ok)
            if (ok && traced) {
              org.apache.spark.ListenerBusDrain(spark.sparkContext)
              tracer.pipelineCall(t0, t2, probe.take(),
                Seq(lake.silver(""), lake.gold("")).map(d => Tracer.dataFiles(new File(d))).sum)
            } else if (ok) {
              for (t <- Workloads.lakeTables)
                check(lakeKey(k, t), lakeFingerprint(spark, lake, t), t.profiled)
              if (lakeRatio.isNaN) {
                val out = Seq(new File(lake.silver("")), new File(lake.gold("")))
                lakeRatio = out.map(Tracer.dataBytes).sum.toDouble /
                  Tracer.dataBytes(new File(lake.bronze("")))
                lakeFiles = out.map(Tracer.dataFiles).sum
              }
            }
        }
        System.gc()
      }
      if (traced) {
        spark.listenerManager.unregister(probe)
        spark.sparkContext.removeSparkListener(probe)
      }
      passNs += traced -> thisPass
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    spark.stop()
    // read after the stop, so that the last GC's notification has arrived
    val heapPeak = DriverMemory.peakMb

    // -- report
    val okCalls = calls.filter(_.ok)
    val untracedLat = okCalls.filterNot(_.traced).map(_.ns / 1e9).toSeq
    val tail = if (untracedLat.nonEmpty) Stats.tail(untracedLat) else Stats.Tail(Double.NaN, 0, 0, 0)
    val attempted = calls.size
    val failed = calls.count(!_.ok) + checkFailures
    val untracedPasses = passNs.filterNot(_._1).map(_._2 / 1e9)
    val endToEnd = LinkedHashMap(
      "setup_s" -> (Stats.median(setupS.toSeq), "s"),
      "query_p50_s" -> (if (untracedLat.isEmpty) Double.NaN else Stats.median(untracedLat), "s"),
      "query_tail_s" -> (tail.value, "s"),
      "queries_per_s" -> (untracedLat.size / untracedPasses.sum, "1/s"),
      "driver_heap_peak_mb" -> (heapPeak, "MB"))

    val lines = ArrayBuffer.empty[String]
    def show(name: String, v: Double, unit: String, note: String = ""): Unit =
      lines += f"$name%-34s ${v}%-24s $unit%-6s $note"
    show("setup_s", endToEnd("setup_s")._1, "s", s"median of ${setupS.size} set-ups")
    show("query_p50_s", endToEnd("query_p50_s")._1, "s", s"${tail.n} calls")
    show("query_tail_s", tail.value, "s",
      if (tail.above > 0) f"p${tail.percentile}%.1f, ${tail.above} of ${tail.n} calls above"
      else s"max of ${tail.n} calls (too few for a percentile with 10 above)")
    show("queries_per_s", endToEnd("queries_per_s")._1, "1/s")
    show("driver_heap_peak_mb", heapPeak, "MB")
    show("failed_frac", failed.toDouble / math.max(1, attempted), "ratio",
      s"$failed of $attempted")
    c.workload match {
      case _: LakeWorkload =>
        show("pipeline_s", Stats.median(untracedPasses.toSeq), "s", s"median of ${untracedPasses.size} runs")
        show("lake_bytes_per_input_byte", lakeRatio, "ratio", s"$lakeFiles files")
      case _ =>
    }

    val perLayer: Seq[(String, Double, String)] =
      if (!c.trace) Nil
      else {
        // the first pass warms the session up, so the overhead compares the
        // traced passes with the untraced passes after it
        val tracedPasses = passNs.filter(_._1).map(_._2 / 1e9)
        val warmUntraced = passNs.drop(1).filterNot(_._1).map(_._2 / 1e9)
        tracer.metrics(tracedPasses.size) ++ Seq(
          ("gen.bronze_s", if (bronzeS.isEmpty) 0.0 else Stats.median(bronzeS.toSeq), "s"),
          ("jvm.driver_gc_s", tracedGcMs / 1e3 / tracedPasses.size, "s"),
          ("trace.overhead_s",
            tracedPasses.sum / tracedPasses.size - warmUntraced.sum / warmUntraced.size, "s"))
      }
    if (c.trace) {
      perLayer.foreach { case (n, v, u) => show(n, v, u, "per traced pass") }
      tracer.selfTimeByName.toSeq.sortBy(-_._2).foreach { case (n, ms) =>
        show(s"self.$n", ms / 1e3 / math.max(1, passNs.count(_._1)), "s", "self time per traced pass")
      }
      lines ++= tracer.reconciliation(passNs.count(_._1))
    }

    val box = Seq(
      "workload" -> Json.str(c.workload.name),
      "seed" -> c.seed.toString,
      "trace" -> c.trace.toString,
      "cores" -> Cores.toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "xmx_mb" -> Box.maxHeapMb.toString,
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "loadavg_start" -> Json.str(load0),
      "loadavg_end" -> Json.str(Box.loadavg),
      "steal_s" -> Json.num(Box.stealSeconds - steal0),
      "calibration_ms_start" -> Json.num(cal0),
      "calibration_ms_end" -> Json.num(Box.calibrationMs),
      "jvm_start_to_main_ms" -> (mainStart - Box.jvmStartMs).toString,
      "setup_s_each" -> Json.arr(setupS.map(Json.num).toSeq),
      "warmup_s" -> Json.num(warmupS),
      "loop_s" -> Json.num(loopS),
      "passes" -> passNs.size.toString,
      "pass_s" -> Json.arr(passNs.map(p => Json.num(p._2 / 1e9)).toSeq))
    lines += "box " + Json.obj(box)
    lines.foreach(println)

    val metrics =
      if (c.trace) perLayer.map { case (n, v, u) => n -> (v, u) }
      else endToEnd.toSeq
    val metricsJson = Json.obj(metrics.map { case (n, (v, u)) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val artifact = Json.obj(Seq(
      "box" -> Json.obj(box),
      "metrics" -> metricsJson,
      "calls" -> Json.arr(calls.map(cl => Json.obj(Seq(
        "op" -> Json.str(cl.op), "pass" -> cl.pass.toString, "traced" -> cl.traced.toString,
        "s" -> Json.num(cl.ns / 1e9), "ok" -> cl.ok.toString))).toSeq),
      "checks" -> Json.obj(checked.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "jobs" -> Json.arr(tracer.jobSites.map { case (site, m) =>
        Json.obj(Seq("call_site" -> Json.str(site), "module" -> Json.str(m)))
      }.toSeq),
      "spans" -> Json.arr(tracer.spans.all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ms" -> s.start.toString,
        "end_ms" -> s.end.toString))))))
    Files.createDirectories(Paths.get(c.out))
    Files.write(Paths.get(c.out,
      s"${c.workload.name}-seed${c.seed}-trace${if (c.trace) 1 else 0}.json"),
      (artifact + "\n").getBytes(UTF_8))

    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metricsJson))
  }
}

/** Just enough JSON to write the result line and the artifact. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
