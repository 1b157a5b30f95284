package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.E2eBenchBus
import scala.jdk.CollectionConverters._

/** Entry point: one workload in a fresh JVM.
  *
  *   e2ebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Untraced (`--trace 0`) it prints the end-to-end metrics; traced it
  * registers the listeners, alternates untraced and traced passes to
  * measure the tracing overhead, runs the layer probes and prints the
  * per-layer metrics. The last stdout line is the result object.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder("e2ebench", cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val code =
      try run(o, spark, sessionS, cores)
      finally spark.stop()
    System.exit(code)
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** progress on stderr: phase name and seconds since JVM start */
  private def phase(name: String): Unit =
    System.err.println(f"e2ebench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%8.2f s  $name")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(o: Opts, spark: org.apache.spark.sql.SparkSession, sessionS: Double, cores: Int): Int = {
    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val check = new Check
    val env = Env(spark, spans, o.work, o.seed, cores, check)
    val w = Workloads(o.workload, env)
    val rec = new Recorder
    lazy val sampler = new Sampler(intervalMs = 10)
    var listening = false
    def tracing(on: Boolean): Unit = if (on != listening) {
      if (on) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
      else { sc.removeSparkListener(rec); spark.listenerManager.unregister(rec) }
      sampler.active(on)
      listening = on
    }

    // a fixed number of steady passes (see Workload.nominalPassS);
    // traced runs need an untraced and a traced one at least
    val steady = math.max(if (o.trace) 2 else 1, math.round(o.seconds / w.nominalPassS).toInt)
    val warm = w.warmupPasses

    phase("session ready")
    w.prepare(1 + warm + steady)
    phase("inputs generated")
    val t0 = System.nanoTime()
    w.setup()
    val setupS = sessionS + secs(t0)

    phase("set-up done")
    if (o.trace) tracing(true)
    val jvm0 = JvmCounters.now()
    val t1 = System.nanoTime()
    spans("pass 0", "e2ebench")(w.pass(0))
    val firstS = secs(t1)
    if (o.trace) E2eBenchBus.drain(sc)
    val firstJvm = JvmCounters.now() - jvm0
    val firstCatalyst = rec.catalystMs / 1000.0
    w.afterPass(0)
    phase("first pass done")
    if (o.trace) tracing(false)
    for (i <- 1 to warm) {
      spans(s"warm-up pass $i", "e2ebench")(w.pass(i))
      w.afterPass(i)
    }
    if (warm > 0) phase("warm-up passes done")

    // steady state; traced runs alternate tracing on (odd) and off (even)
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    for (i <- warm + 1 to warm + steady) {
      val on = o.trace && (i - warm) % 2 == 1
      if (o.trace) { tracing(on); rec.clear(); sampler.clear() }
      val before = JvmCounters.now()
      val root = spans.all.size
      val t = System.nanoTime()
      spans(s"pass $i", "e2ebench")(w.pass(i))
      val s = secs(t)
      passes += ((i, s, on))
      if (on) {
        E2eBenchBus.drain(sc)
        // every load rewrites each dim whole, so a pass rewrites their sizes
        val dimRows = w.warehouse.fold(0.0) { t =>
          val wh = graft.etl.Warehouse(spark, t)
          Seq("dim_study", "dim_gene", "dim_platform", "dim_illness", "dim_sample")
            .map(wh.read(_).count()).sum.toDouble
        }
        traced += PassMetrics(spans, rec, sampler, root, JvmCounters.now() - before, w.outputDir) +
          ("dims.rows_rewritten" -> dimRows)
      }
      w.afterPass(i)
    }
    // live heap once the passes are over: what they left reachable, as
    // the heap pools hold it right after a full collection (immune to
    // allocation by Spark's threads after it). The first collection lets
    // Spark's ContextCleaner see unreachable checkpoints and drop their
    // blocks; the second, after it has, measures what remains.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    if (o.trace) tracing(false)
    val steadyS = median(passes.map(_._2).toSeq)
    val workPerS = median(passes.map(p => w.workOf(p._1) / p._2).toSeq)

    phase("steady passes done")
    w.finalChecks()
    phase("checks done")
    val probes =
      if (!o.trace) Map.empty[String, Double]
      else {
        tracing(true); rec.clear()
        val p = w.probes()
        E2eBenchBus.drain(sc); tracing(false)
        sampler.stop()
        p ++ PassMetrics.probeRecorder(spans, rec)
      }
    if (o.trace) phase("probes done")
    val bytesPerRow = w.bytesPerRow()

    val traceDir = o.work.getParent.resolve("traces")
    Files.createDirectories(traceDir)
    spans.writeJsonl(traceDir.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.jsonl"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("first_pass_s", firstS, "s"),
        ("steady_pass_s", steadyS, "s"),
        ("bytes_per_row", bytesPerRow, "B"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        val untracedS = median(passes.filter(!_._3).map(_._2).toSeq)
        val tracedS = median(passes.filter(_._3).map(_._2).toSeq)
        val layer = PassMetrics.mean(traced.toSeq) ++ probes
        val firstRows = Seq(
          ("first.catalyst_s", firstCatalyst, "s"), ("first.codegen_s", firstJvm.codegenMs / 1000, "s"),
          ("first.jit_s", firstJvm.jitMs / 1000.0, "s"), ("first.gc_s", firstJvm.gcMs / 1000.0, "s"),
          ("trace.overhead_frac", tracedS / untracedS - 1.0, "ratio"),
          ("trace.passes", traced.size.toDouble, "count"))
        PassMetrics.catalog.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) } ++ firstRows
      }

    // the paper-facing names of this workload's metrics, for humans
    val named = o.workload match {
      case "stream_arrivals" =>
        // the highest percentile with at least 10 timed arrivals beyond it
        val lat = (firstS +: passes.map(_._2).toSeq).sorted
        val tail = if (lat.size <= 10) "n/a"
          else f"${lat(lat.size - 11)}%.4f(p${100.0 * (lat.size - 10) / lat.size}%.0f)"
        s"ingest_p50_s=$steadyS ingest_tail_s=$tail arrivals=${lat.size + warm} " +
          s"arrival_facts_per_s=$workPerS wh_bytes_per_fact=$bytesPerRow"
      case _ => s"curate_docs_per_s=$workPerS out_bytes_per_doc=$bytesPerRow"
    }
    // a metric that is not a number is a failure, never a stand-in value
    metrics.foreach { case (n, v, _) => check(s"metric $n is $v")(!v.isNaN && !v.isInfinite) }
    val attempted = check.attempted
    val failed = check.failures.size
    check.failures.foreach(f => System.err.println(s"e2ebench CHECK FAILED [${o.workload}]: $f"))
    println(s"e2ebench ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"steady passes=${passes.map(p => "%.3f".format(p._2)).mkString("/")} first=${"%.3f".format(firstS)} " +
      s"$named error_rate=${failed.toDouble / attempted}")
    if (o.trace) PassMetrics.printTop(traced.toSeq)
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) "null" else v},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    if (failed == 0) 0 else 1
  }
}
