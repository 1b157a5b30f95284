package e2ebench

import java.nio.file.{Files, Path}

/** Per-layer metrics of one traced pass, their mean over passes, and
  * the catalogue of every per-layer metric with its unit.
  */
object PassMetrics {

  val SelfModules = Seq("Metadata", "ExpressionMatrix", "GeneFilter", "Dims", "StudyState",
    "Warehouse", "SnapshotWarehouse", "EtlJob", "StreamingEtl", "CorrelationJob", "Spearman",
    "BenjaminiHochberg", "CurationPipeline", "Curation", "TextStats", "Dedup", "Sampling",
    "e2ebench")

  val CurateStages = Seq("quality_gate", "normalized_dedup", "near_dup_drop", "quality_linear",
    "pii_redact", "token_budget")

  /** Every per-layer metric, in print order, with its unit. */
  val catalog: Seq[(String, String)] = Seq(
    "discovery.s" -> "s",
    "metadata.jobs" -> "count", "metadata.task_s" -> "s", "metadata.rows" -> "count",
    "metadata.unknown_frac" -> "ratio",
    "melt.jobs" -> "count", "melt.task_s" -> "s", "melt.input_bytes" -> "B",
    "melt.cells" -> "count", "whitelist.keep_ratio" -> "ratio",
    "dims.jobs" -> "count", "dims.task_s" -> "s", "dims.rows_rewritten" -> "count",
    "state.jobs" -> "count",
    "wh.jobs" -> "count", "wh.task_s" -> "s", "wh.bytes_written" -> "B", "wh.files" -> "count",
    "snapshot.segments" -> "count", "snapshot.manifest_bytes" -> "B",
    "etljob.jobs" -> "count",
    "stream.s" -> "s", "stream.jobs" -> "count", "stream.driver_gap_s" -> "s",
    "corrjob.s" -> "s", "corrjob.jobs" -> "count", "corrjob.driver_gap_s" -> "s",
    "spearman.dense_s" -> "s", "spearman.exact_s" -> "s", "spearman.pair_samples" -> "count",
    "spearman.shuffle_write_bytes" -> "B", "spearman.spill_bytes" -> "B",
    "bh.s" -> "s") ++
    CurateStages.flatMap(s => Seq(s"curate.$s.s" -> "s", s"curate.$s.keep_ratio" -> "ratio")) ++
    Seq("curate.write_s" -> "s", "curate.jobs" -> "count", "curate.task_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_s" -> "s", "spark.driver_gap_s" -> "s", "spark.catalyst_s" -> "s",
      "spark.codegen_s" -> "s", "spark.shuffle_write_bytes" -> "B",
      "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
      "jvm.gc_s" -> "s", "jvm.jit_s" -> "s") ++
    (SelfModules :+ "other").map(m => s"self.${m}_s" -> "s")

  private def spanTotals(spans: Spans, rec: Recorder, root: Int, name: String): (Double, Double) = {
    val hits = spans.all.filter(s => s.name == name && spans.subtree(root)(s.id))
    val wall = hits.map(s => s.endMs - s.startMs).sum
    val covered = hits.map { s =>
      val tree = spans.subtree(s.id)
      Layers.covered(rec.jobs.filter(j => tree(j.span) && j.endMs >= 0).map(j => (j.startMs, j.endMs)).toSeq)
    }.sum
    (wall / 1000.0, (wall - covered) / 1000.0)
  }

  def apply(spans: Spans, rec: Recorder, sampler: Sampler, root: Int, jvm: JvmCounters,
      outputDir: Option[Path]): Map[String, Double] = {
    val tree = spans.subtree(root)
    val jobs = rec.jobs.filter(j => tree(j.span)).toSeq
    // the call site names the issuing module unless Spark replaced it
    // (streaming) or ran the job from its own thread; then the stack
    // sample taken as the job started does
    def moduleOf(j: Recorder.Job) =
      if (j.module.nonEmpty && j.module != spans.all(j.span).owner) j.module
      else sampler.moduleAt(j.startMs).getOrElse(if (j.module.nonEmpty) j.module else spans.all(j.span).owner)
    val stagesOf = rec.stages.groupBy(_.job)
    def stages(js: Seq[Recorder.Job]) = js.flatMap(j => stagesOf.getOrElse(j.id, Nil))
    val byLayer = jobs.groupBy(j => Layers.byModule.getOrElse(moduleOf(j), "other"))
    val layerRows = Seq("metadata", "melt", "dims", "wh", "curate").flatMap { l =>
      val js = byLayer.getOrElse(l, Nil)
      Seq(s"$l.jobs" -> js.size.toDouble, s"$l.task_s" -> stages(js).map(_.taskMs).sum / 1000.0)
    } ++ Seq("state", "etljob", "stream", "corrjob").map(l =>
      s"$l.jobs" -> byLayer.getOrElse(l, Nil).size.toDouble)
    val all = stages(jobs)
    val wall = spans.all(root).endMs - spans.all(root).startMs
    val gap = wall - Layers.covered(jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))
    val spanRows = Seq("StreamingEtl.ingestAvailable" -> "stream",
      "CorrelationJob.run" -> "corrjob").flatMap { case (name, l) =>
      val (s, g) = spanTotals(spans, rec, root, name)
      Seq(s"$l.s" -> s, s"$l.driver_gap_s" -> g)
    }
    val innermostOwner = (t: Long) => spans.all.filter(s => tree(s.id) && s.startMs <= t && s.endMs >= t)
      .maxByOption(_.id).fold("e2ebench")(_.owner)
    val self = sampler.selfTimes(spans.all(root).startMs, spans.all(root).endMs, innermostOwner).toSeq
      .groupBy { case (m, _) => if (SelfModules.contains(m)) m else "other" }
      .map { case (m, xs) => s"self.${m}_s" -> xs.map(_._2).sum }
    val storage = outputDir.toSeq.flatMap { d =>
      val manifests = d.resolve("_manifests")
      val latest =
        if (!Files.isDirectory(manifests)) None
        else {
          val s = Files.list(manifests)
          try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".json"))
            .sortBy(_.getFileName.toString).lastOption
          finally s.close()
        }
      Seq("wh.files" -> Workloads.filesUnder(d).toDouble) ++ latest.toSeq.flatMap { m =>
        val text = new String(Files.readAllBytes(m), "UTF-8")
        Seq("snapshot.segments" -> "\"path\":".r.findAllMatchIn(text).size.toDouble,
          "snapshot.manifest_bytes" -> Files.size(m).toDouble)
      }
    }
    (layerRows ++ spanRows ++ self ++ storage ++ Seq(
      "wh.bytes_written" -> all.map(_.outputBytes).sum.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> all.size.toDouble,
      "spark.tasks" -> all.map(_.tasks).sum.toDouble,
      "spark.task_s" -> all.map(_.taskMs).sum / 1000.0,
      "spark.driver_gap_s" -> gap / 1000.0,
      "spark.catalyst_s" -> rec.catalystMs / 1000.0,
      "spark.codegen_s" -> jvm.codegenMs / 1000.0,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> all.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> all.map(_.spill).sum.toDouble,
      "jvm.gc_s" -> jvm.gcMs / 1000.0,
      "jvm.jit_s" -> jvm.jitMs / 1000.0)).toMap
  }

  /** Recorder numbers of the probe spans (run after the passes). */
  def probeRecorder(spans: Spans, rec: Recorder): Map[String, Double] = {
    val stagesOf = rec.stages.groupBy(_.job)
    def stagesIn(prefix: String) = rec.jobs.filter(j =>
      j.span >= 0 && spans.all(j.span).name.startsWith(prefix)).flatMap(j => stagesOf.getOrElse(j.id, Nil))
    Map("melt.input_bytes" -> stagesIn("probe.melt").map(_.inputBytes).sum.toDouble,
      "spearman.shuffle_write_bytes" -> stagesIn("probe.spearman").map(_.shuffleWrite).sum.toDouble,
      "spearman.spill_bytes" -> stagesIn("probe.spearman").map(_.spill).sum.toDouble)
  }

  def mean(passes: Seq[Map[String, Double]]): Map[String, Double] =
    if (passes.isEmpty) Map.empty
    else passes.flatMap(_.keys).distinct.map(k =>
      k -> passes.map(_.getOrElse(k, 0.0)).sum / passes.size).toMap

  /** Human-readable: the five modules with the most self time per pass. */
  def printTop(passes: Seq[Map[String, Double]]): Unit = {
    val m = mean(passes).filter(_._1.startsWith("self.")).toSeq.sortBy(-_._2).take(5)
    println("e2ebench top self time per pass: " +
      m.map { case (k, v) => f"${k.stripPrefix("self.").stripSuffix("_s")}=$v%.3fs" }.mkString(" "))
  }
}
