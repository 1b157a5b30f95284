package e2ebench

import graft.etl._
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a run hands a workload. */
final case class Env(spark: SparkSession, spans: Spans, work: Path, seed: Long,
    threads: Int, check: Check)

/** One benchmark workload: inputs made in `prepare` (untimed, not
  * set-up), `setup` timed as set-up, `pass` timed as the workload's
  * unit of work.
  */
trait Workload {
  /** Makes the inputs of passes 0 until `passes`. */
  def prepare(passes: Int): Unit
  /** Set-up the passes need (a preloaded warehouse). */
  def setup(): Unit = ()
  def pass(i: Int): Unit
  /** Nominal seconds of a steady pass: a run makes `--seconds` ÷ this
    * many steady passes, rounded, at least one. The count is fixed by
    * the command line, not by how fast the program is, so that a run
    * holds the same work whatever the program's speed (the warehouse
    * the passes leave and the median of still-warming passes both
    * depend on how many passes ran).
    */
  def nominalPassS: Double
  /** Passes run between the first and the steady ones and not timed:
    * the warm-up a JVM needs before a pass takes its steady time.
    */
  def warmupPasses: Int = 0
  /** Untimed work after pass `i` (bookkeeping, per-pass checks). */
  def afterPass(i: Int): Unit = ()
  /** work done by pass `i` */
  def workOf(i: Int): Double
  def finalChecks(): Unit
  /** bytes on disk under the output ÷ its rows */
  def bytesPerRow(): Double
  /** output directory measured by the `wh.*` / `snapshot.*` layers */
  def outputDir: Option[Path]
  /** the warehouse the passes load, if any (`Warehouse.apply` target) */
  def warehouse: Option[String] = None
  /** Direct calls into single layers for the traced run; returns
    * layer metrics measured from the values it sees.
    */
  def probes(): Map[String, Double] = Map.empty
}

object Workloads {
  val names = Seq("stream_arrivals", "curate_corpus")

  def apply(name: String, env: Env): Workload = name match {
    case "stream_arrivals" => new StreamArrivals(env)
    case "curate_corpus" => new CurateCorpus(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def config(input: Path, whitelist: Path, warehouse: String): AppConfig =
    AppConfig(DatabaseConfig(warehouse), ProcessingConfig(input, whitelist),
      LoggingConfig(logDataQuality = false, logRecordCounts = false))

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def filesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count()
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def failedStudies(rs: Seq[EtlJob#StudyResult]): Seq[String] =
    rs.collect { case r if r.error.isDefined => s"${r.accession}: ${r.error.get}" }

  /** Metadata and melt+whitelist called directly on study trees. */
  def etlProbes(env: Env, studies: Seq[Gen.Study], wl: Gen.Whitelist): Map[String, Double] = {
    val spark = env.spark
    val files = studies.map(s => StudyDiscovery.discoverStudyFiles(s.dir))
    val discovery = (0 until 5).map { _ =>
      val t = System.nanoTime()
      studies.map(_.dir.getParent).distinct.foreach(d =>
        StudyDiscovery.discoverStudyDirs(d).foreach(StudyDiscovery.discoverStudyFiles))
      (System.nanoTime() - t) / 1e9
    }.sorted.apply(2)
    val (rows, unknown) = env.spans("probe.metadata", "Metadata") {
      files.map { f =>
        val m = Metadata.load(spark, f.metadataFile.toString, FieldMappingConfig())
        val r = m.agg(count(lit(1)), sum(
          Seq("platform_accession", "illness_label", "age", "sex")
            .map(c => when(col(c) === "UNKNOWN", 1L).otherwise(0L)).reduce(_ + _))).head()
        (r.getLong(0), r.getLong(1))
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    }
    val (cells, kept) = env.spans("probe.melt", "ExpressionMatrix") {
      val genes = GeneFilter.load(spark, wl.path.toString)
      files.zip(studies).map { case (f, s) =>
        val melted = ExpressionMatrix.load(spark, f.expressionFile.toString, s.samples)
        val filtered = GeneFilter.filterGenes(melted, genes, "gene_id")
        (melted.count(), filtered.count())
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    }
    Map("discovery.s" -> discovery, "metadata.rows" -> rows.toDouble,
      "metadata.unknown_frac" -> unknown.toDouble / (4.0 * rows),
      "melt.cells" -> cells.toDouble, "whitelist.keep_ratio" -> kept.toDouble / cells)
  }

  /** The Spearman plans and BH called directly on long-form facts of
    * `studies`, with a noop sink; complete studies take the dense
    * plan, the others the exact shared-sample plan.
    */
  def statsProbes(env: Env, target: String, studies: Seq[Gen.Study],
      complete: Gen.Study => Boolean, pairSamples: Double): Map[String, Double] = {
    import graft.stats._
    val wh = Warehouse(env.spark, target)
    val keyOf = wh.read("dim_study").collect()
      .map(r => r.getAs[String]("gse_accession") -> r.getAs[Number]("study_key").longValue()).toMap
    val long = wh.read("fact_expression")
      .join(broadcast(wh.read("dim_sample").select("sample_key", "gsm_accession")), Seq("sample_key"))
      .select("study_key", "gene_key", "gsm_accession", "expression_value")
    def subset(dense: Boolean) = {
      val keys = studies.filter(complete(_) == dense).map(s => keyOf(s.acc))
      long.where(col("study_key").isin(keys: _*))
    }
    def timed(name: String)(body: => Unit): Double = {
      val t = System.nanoTime()
      env.spans(name, "Spearman")(body)
      (System.nanoTime() - t) / 1e9
    }
    val args = (Seq("study_key"), "gene_key", "gsm_accession", "expression_value")
    val denseS = if (!studies.exists(complete)) 0.0 else timed("probe.spearman.dense") {
      noop(Spearman.pairCorrelationsDense(subset(true), args._1, args._2, args._3, args._4))
    }
    val exactS = if (studies.forall(complete)) 0.0 else timed("probe.spearman.exact") {
      noop(Spearman.pairCorrelations(subset(false), args._1, args._2, args._3, args._4))
    }
    val pairs = Spearman.pairCorrelations(long.where(col("study_key").isin(
        studies.map(s => keyOf(s.acc)): _*)), args._1, args._2, args._3, args._4)
      .localCheckpoint(true)
    val t = System.nanoTime()
    env.spans("probe.bh", "BenjaminiHochberg") {
      noop(BenjaminiHochberg.qValues(
        pairs.withColumn("p", PValues.spearmanP(col("rho"), col("n_samples"))),
        Seq(col("study_key")), col("p"), "q"))
    }
    Map("spearman.dense_s" -> denseS, "spearman.exact_s" -> exactS,
      "spearman.pair_samples" -> pairSamples,
      "bh.s" -> (System.nanoTime() - t) / 1e9)
  }
}

import Workloads._

/** A snapshot warehouse preloaded with one complete study; small
  * studies then arrive (closed loop, one arrival in flight). An
  * arrival is two studies listed in one manifest, one complete (dense
  * Spearman plan) and one with missing cells (exact shared-sample
  * plan), so every pass runs both plans. Each arrival writes its
  * manifest, drains it with `StreamingEtl.ingestAvailable`, correlates
  * its studies with `CorrelationJob.run(accessions)` and reads their
  * rows back.
  */
final class StreamArrivals(env: Env) extends Workload {
  val Preloaded = 1
  val Complete = Gen.Shape(samples = 60, rawGenes = 1000, badCellRate = 0.0)
  val Incomplete = Complete.copy(badCellRate = 0.01)
  def nominalPassS = 15.0
  // no warm-up arrival: the preload in set-up runs the same ETL code,
  // and another arrival (about 15 s) would not fit the run budget
  private var wl: Gen.Whitelist = _
  private var preloaded: IndexedSeq[Gen.Study] = _
  /** arrival i is studies 2i (complete) and 2i + 1 (incomplete) */
  private var arrivals: IndexedSeq[IndexedSeq[Gen.Study]] = _
  private var arrived = 0
  private def input = env.work.resolve("studies")
  private def arrivalRoot = env.work.resolve("arrivals")
  private def manifests = env.work.resolve("manifests")
  private val target = "snapshot:" + env.work.resolve("wh")
  private var streaming: graft.streaming.StreamingEtl = _
  private var corr: CorrelationJob = _
  private var refs = Map.empty[String, IndexedSeq[Reference.Pair]]
  private def landed = arrivals.take(arrived).flatten
  private def complete(s: Gen.Study) = s.numericCells == s.matrixCells

  def prepare(passes: Int): Unit = {
    wl = Gen.whitelist(env.work, env.seed, Complete.rawGenes, 120)
    preloaded = Gen.studies(input, env.seed, 0, Preloaded, _ => Complete, wl, env.threads)
    arrivals = Gen.studies(arrivalRoot, env.seed, Preloaded, 2 * passes,
      k => if ((k - Preloaded) % 2 == 0) Complete else Incomplete, wl, env.threads).grouped(2).toIndexedSeq
    Files.createDirectories(manifests)
  }
  override def setup(): Unit = {
    val cfg = config(input, wl.path, target)
    val rs = new EtlJob(env.spark, cfg, target).runUnioned()
    env.check.equal("preload failed studies", failedStudies(rs), Nil)
    streaming = new graft.streaming.StreamingEtl(env.spark, cfg, target)
    corr = new CorrelationJob(env.spark, target)
  }
  def pass(i: Int): Unit = {
    val ss = arrivals(i)
    val tmp = manifests.resolve(s".m-$i.txt")
    Files.write(tmp, ss.map(_.dir.toString + "\n").mkString.getBytes("UTF-8"))
    Files.move(tmp, manifests.resolve(s"m-$i.txt"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val rs = env.spans("StreamingEtl.ingestAvailable", "StreamingEtl") {
      streaming.ingestAvailable(manifests.toString, env.work.resolve("checkpoint").toString)
    }
    env.check.equal(s"arrival $i ingested", rs.map(r => (r.accession, r.error)).sortBy(_._1),
      ss.map(s => (s.acc, None)).sortBy(_._1))
    env.spans("CorrelationJob.run", "CorrelationJob")(corr.run(ss.map(_.acc)))
    val rows = env.spans("read back", "Warehouse") {
      val w = Warehouse(env.spark, target)
      val keys = w.read("dim_study").where(col("gse_accession").isin(ss.map(_.acc): _*))
        .collect().map(_.getAs[Number]("study_key").longValue())
      w.read("fact_gene_pair_corr").where(col("study_key").isin(keys: _*))
        .groupBy("study_key").count().collect()
    }
    env.check.equal(s"arrival $i: studies with correlation rows read back", rows.length, ss.size)
    arrived = i + 1
  }
  def workOf(i: Int): Double = arrivals(i).map(_.facts).sum.toDouble
  def finalChecks(): Unit = {
    val w = Warehouse(env.spark, target)
    env.check.equal("arrivals that ran both Spearman plans",
      arrivals.take(arrived).count(ss => ss.exists(complete) && !ss.forall(complete)), arrived)
    WarehouseChecks.load(env.check, w, preloaded ++ landed, "after arrivals")
    val ls = landed
    refs = Gen.parallel(ls.size, env.threads)(i => ls(i).acc -> Reference.pairs(ls(i))).toMap
    WarehouseChecks.correlations(env.check, w, ls, refs, "arrivals")
  }
  private def dir = java.nio.file.Paths.get(target.stripPrefix("snapshot:"))
  def bytesPerRow(): Double = bytesUnder(dir).toDouble / (preloaded ++ landed).map(_.facts).sum
  def outputDir: Option[Path] = Some(dir)
  override def warehouse = Some(target)
  override def probes(): Map[String, Double] = {
    val all = preloaded ++ landed
    val pairSamples = (refs.values ++ preloaded.map(Reference.pairs)).map(Reference.pairSamples).sum
    etlProbes(env, landed, wl) ++ statsProbes(env, target, all, complete, pairSamples.toDouble)
  }
}

/** A seeded corpus through one YAML curation pipeline and a parquet
  * write per pass.
  */
final class CurateCorpus(env: Env) extends Workload {
  val Docs = 3000
  def nominalPassS = 2.5
  // a cold JVM's passes shorten for about three passes
  override def warmupPasses = 3
  val BudgetTokens = 8000L
  val stages = Seq(
    "{kind: quality_gate, min_quality: 0.5}",
    "{kind: normalized_dedup}",
    "{kind: near_dup_drop, max_hamming: 3}",
    "{kind: quality_linear, min_logit: 0.0, n_features: 1024}",
    "{kind: pii_redact}",
    s"{kind: token_budget, budget_tokens: $BudgetTokens, strata: [source, lang]}")
  val stageNames = Seq("quality_gate", "normalized_dedup", "near_dup_drop", "quality_linear",
    "pii_redact", "token_budget")
  private def yaml(n: Int) =
    s"pipeline:\n  id_column: doc_id\n  text_column: text\n  stages:\n" +
      stages.take(n).map("    - " + _).mkString("\n") + "\n"
  private val cfg = graft.ops.CurationPipeline.loadString(yaml(stages.size))
  private var docs: IndexedSeq[Gen.Doc] = _
  private def corpus = env.work.resolve("corpus")
  private def out(i: Int) = env.work.resolve(s"curated-$i")
  private var first: Seq[(Long, String, String, Long, Long)] = _
  private var last = -1

  def prepare(passes: Int): Unit = {
    docs = Gen.corpus(env.seed, Docs)
    import env.spark.implicits._
    docs.toDF().repartition(env.threads).write.parquet(corpus.toString)
  }
  def pass(i: Int): Unit = {
    env.spans("CurationPipeline.run+write", "CurationPipeline") {
      graft.ops.CurationPipeline.run(env.spark.read.parquet(corpus.toString), cfg)
        .write.parquet(out(i).toString)
    }
    last = i
  }
  private def rows(i: Int) = env.spark.read.parquet(out(i).toString)
    .select("doc_id", "source", "lang", "n_tokens", "cum_tokens").collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    .toSeq.sortBy(_._1)
  override def afterPass(i: Int): Unit = {
    if (i == 0) first = rows(0)
    else {
      env.check(s"pass $i output differs from pass 0")(rows(i) == first)
      delete(out(i - 1))
    }
  }
  def workOf(i: Int): Double = Docs.toDouble
  def finalChecks(): Unit = {
    val byId = docs.map(d => d.doc_id -> d).toMap
    env.check(s"curated output is empty")(first.nonEmpty)
    env.check(s"output ⊄ input (ids, source, lang)")(first.forall { case (id, s, l, _, _) =>
      byId.get(id).exists(d => d.source == s && d.lang == l)
    })
    val norm = first.map(r => Reference.normalized(byId(r._1).text))
    env.check.equal("normalized duplicates in output", norm.size - norm.distinct.size, 0)
    // tokens recounted from the generated text, not the program's count
    val tokens = first.map(r => r._1 -> Reference.wsTokens(Reference.redacted(byId(r._1).text))).toMap
    val miscounted = first.filter(r => r._4 != tokens(r._1))
    env.check(s"n_tokens differs from the recount for ${miscounted.size} docs, e.g. " +
      miscounted.take(3).map(r => s"${r._1}: got ${r._4}, want ${tokens(r._1)}").mkString(", "))(
      miscounted.isEmpty)
    first.groupBy(r => (r._2, r._3)).foreach { case (stratum, rs) =>
      val sum = rs.map(r => tokens(r._1)).sum
      env.check(s"stratum $stratum over budget: $sum > $BudgetTokens")(sum <= BudgetTokens)
    }
  }
  def bytesPerRow(): Double = bytesUnder(out(last)).toDouble / first.size
  def outputDir: Option[Path] = Some(out(last))
  override def probes(): Map[String, Double] = {
    val input = env.spark.read.parquet(corpus.toString)
    var prevS = 0.0
    var prevN = Docs.toDouble
    val perStage = (1 to stages.size).flatMap { n =>
      val c = graft.ops.CurationPipeline.loadString(yaml(n))
      val rows = org.apache.spark.sql.Observation(s"prefix$n")
      val t = System.nanoTime()
      env.spans(s"probe.curate.${stageNames(n - 1)}", "CurationPipeline")(
        noop(graft.ops.CurationPipeline.run(input, c).observe(rows, count(lit(1)).as("n"))))
      val s = (System.nanoTime() - t) / 1e9
      val kept = rows.get("n").asInstanceOf[Long].toDouble
      val m = Seq(s"curate.${stageNames(n - 1)}.s" -> (s - prevS),
        s"curate.${stageNames(n - 1)}.keep_ratio" -> kept / prevN)
      prevS = s; prevN = kept
      m
    }
    // the parquet write alone, over the pipeline's checkpointed output
    val curated = graft.ops.CurationPipeline.run(input, cfg).localCheckpoint(true)
    val probeOut = env.work.resolve("curated-probe")
    val t = System.nanoTime()
    env.spans("probe.curate.write", "CurationPipeline")(curated.write.parquet(probeOut.toString))
    val writeS = (System.nanoTime() - t) / 1e9
    delete(probeOut)
    (perStage :+ ("curate.write_s" -> writeS)).toMap
  }
}
