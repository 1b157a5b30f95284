package e2ebench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The benchmark's one seeded input generator: study trees (metadata
  * TSV, wide expression TSV), the gene whitelist TSV and the document
  * corpus. Every input is a pure function of (seed, shape), so the same
  * seed gives byte-identical files whatever the thread interleaving.
  *
  * Alongside the files it returns the ground truth the output checks
  * need: which samples and genes survive, every numeric whitelisted
  * cell, and the dim contents a correct load must produce. The edge
  * cases of FIXTURES.md §2-4 appear at fixed rates (see [[Shape]]).
  */
object Gen {

  /** Shape of one study. `rawGenes` rows are written, of which the
    * whitelist keeps the genes in [[Whitelist.genes]]; `badCellRate`
    * is the share of cells written as missing or non-numeric text.
    */
  final case class Shape(samples: Int, rawGenes: Int, badCellRate: Double)

  final case class Whitelist(path: Path, genes: IndexedSeq[String])

  /** What a correct load of one study must contain.
    * @param samples   distinct non-blank GSM ids of the metadata, file order
    * @param values    per whitelisted gene, one value per entry of
    *                  `samples` (NaN where the cell is absent: sample
    *                  column missing from the matrix, or non-numeric)
    */
  final case class Study(acc: String, dir: Path, samples: IndexedSeq[String],
      values: Map[String, Array[Double]], platforms: Set[String],
      illnesses: Set[String], unknownCells: Int, matrixCells: Long, numericCells: Long) {
    def facts: Long = values.valuesIterator.map(_.count(!_.isNaN).toLong).sum
    def genesWithFacts: Set[String] =
      values.collect { case (g, v) if v.exists(!_.isNaN) => g }.toSet
  }

  def geneId(i: Int): String = f"ENSG$i%011d"

  private def rng(seed: Long, stream: String, index: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 31L + index)

  /** Runs `n` independent jobs on at most `threads` threads. */
  def parallel[A](n: Int, threads: Int)(job: Int => A): IndexedSeq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, n)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(job(i)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** The whitelist TSV: `nGenes` distinct ids drawn from the raw gene
    * universe, plus duplicate-id rows under other symbols (the real
    * filter file has 144 rows for 120 genes, the same 1.2 ratio).
    */
  def whitelist(root: Path, seed: Long, rawGenes: Int, nGenes: Int): Whitelist = {
    val r = rng(seed, "whitelist", 0)
    val picked = if (nGenes >= rawGenes) (0 until rawGenes).toIndexedSeq
      else {
        val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (chosen.size < nGenes) chosen += r.nextInt(rawGenes)
        chosen.toIndexedSeq.sorted
      }
    val genes = picked.map(geneId)
    val dups = (0 until genes.size / 5).map(_ => genes(r.nextInt(genes.size)))
    val rows = genes.zipWithIndex.map { case (g, i) => s"SYM$i\t$g\tHomo sapiens\tgene $i" } ++
      dups.zipWithIndex.map { case (g, i) => s"ALIAS$i\t$g\tHomo sapiens\talias $i" }
    val path = root.resolve("filter_genes.tsv")
    Files.createDirectories(root)
    Files.write(path, ("gene_symbol\tensembl_id\trefinebio_organism\tgene_name" +: rows)
      .mkString("", "\n", "\n").getBytes(UTF_8))
    Whitelist(path, genes)
  }

  // Metadata layouts, cycled by study index: each resolves every field
  // through a different candidate rule of the config's field mappings
  // (exact name, digit-stripped variant header, absent → UNKNOWN).
  private val layouts: IndexedSeq[IndexedSeq[String]] = IndexedSeq(
    IndexedSeq("refinebio_accession_code", "experiment_accession", "refinebio_age",
      "refinebio_sex", "refinebio_platform", "characteristics_ch1_Illness"),
    IndexedSeq("refinebio_accession_code", "experiment_accession", "characteristics_ch1_Age",
      "characteristics_ch1_Sex", "platform_id", "characteristics_ch2_illness"),
    IndexedSeq("experiment_accession", "refinebio_accession_code", "refinebio_age",
      "characteristics_ch1_Gender", "refinebio_platform"),
    IndexedSeq("refinebio_accession_code", "source_name", "experiment_accession",
      "refinebio_age", "refinebio_sex", "refinebio_platform", "characteristics_ch1_Illness",
      "characteristics_ch1_tissue"))
  private val Platforms = IndexedSeq("GPL96", "GPL570", "GPL6244", "GPL10558")
  private val Illnesses = IndexedSeq("Healthy", "T1D", "Sepsis", "Influenza")
  private val BadCells = IndexedSeq("NA", "", "n/a", "--", "null")

  /** Writes one study tree under `root` and returns its ground truth.
    *
    * Fixed-rate edge cases: a blank-GSM row every 50 samples (skipped),
    * an experiment_accession mismatch every 20 (overridden), a repeated
    * GSM row every 100 (first wins; same values), blank age 1 in 10,
    * blank sex and illness 1 in 20 (UNKNOWN); in the matrix, one
    * metadata sample in 80 has no column (dropped), odd studies carry
    * an extra column no metadata lists (ignored), and a blank-gene line
    * and an empty line are skipped.
    */
  def study(root: Path, seed: Long, index: Int, acc: String, shape: Shape,
      wl: Whitelist): Study = {
    val r = rng(seed, acc, index)
    val layout = layouts(index % layouts.size)
    val dir = root.resolve(acc)
    Files.createDirectories(dir)
    val samples = (0 until shape.samples).map(j => s"GSM${index + 1}${"%06d".format(j)}")
    val studyPlatforms = IndexedSeq(Platforms(index % 4), Platforms((index + 1) % 4))

    // ---- metadata ----------------------------------------------------
    var unknown = 0
    val platforms = scala.collection.mutable.Set.empty[String]
    val illnesses = scala.collection.mutable.Set.empty[String]
    def fields(j: Int): Map[String, String] = {
      val age = if (j % 10 == 4) "" else s"${18 + r.nextInt(60)}${if (j % 2 == 0) " yrs" else ""}"
      val sex = if (j % 20 == 7) "" else IndexedSeq("female", "male", "F", "M")(r.nextInt(4))
      val platform = studyPlatforms(j % 2)
      val illness = if (j % 20 == 13) "" else Illnesses(r.nextInt(Illnesses.size))
      val gse = if (j % 20 == 3) "GSE999999" else acc
      val hasIllness = layout.exists(_.toLowerCase.contains("illness"))
      if (age.isEmpty) unknown += 1
      if (sex.isEmpty) unknown += 1
      if (!hasIllness || illness.isEmpty) unknown += 1 else illnesses += illness
      platforms += platform
      Map("refinebio_accession_code" -> samples(j), "experiment_accession" -> gse,
        "refinebio_age" -> age, "characteristics_ch1_Age" -> age,
        "refinebio_sex" -> sex, "characteristics_ch1_Sex" -> sex,
        "characteristics_ch1_Gender" -> sex, "refinebio_platform" -> platform,
        "platform_id" -> platform, "characteristics_ch1_Illness" -> illness,
        "characteristics_ch2_illness" -> illness, "source_name" -> "blood",
        "characteristics_ch1_tissue" -> "PBMC")
    }
    val lines = Vector.newBuilder[String]
    val repeats = Vector.newBuilder[String]
    for (j <- samples.indices) {
      val line = layout.map(fields(j)).mkString("\t")
      lines += line
      if (j % 100 == 37) repeats += line
      if (j % 50 == 49) lines += layout.map {
        case "refinebio_accession_code" => ""
        case "experiment_accession" => acc
        case _ => "x"
      }.mkString("\t")
    }
    val meta = (layout.mkString("\t") +: (lines.result() ++ repeats.result()))
    Files.write(dir.resolve(s"metadata_$acc.tsv"), meta.mkString("", "\n", "\n").getBytes(UTF_8))

    // ---- expression matrix ------------------------------------------
    val inMatrix = samples.indices.filter(_ % 80 != 11)
    val extraColumn = if (index % 2 == 1) Seq(s"GSM_EXTRA${index + 1}") else Nil
    val header = (if (index % 2 == 0) "Gene" else "ensembl_id") +:
      (inMatrix.map(samples) ++ extraColumn)
    val keep = wl.genes.toSet
    // three latent factors give the genes real correlation structure
    val factors = Array.fill(3, shape.samples)(r.nextGaussian())
    val values = scala.collection.mutable.Map.empty[String, Array[Double]]
    var matrixCells = 0L
    var numericCells = 0L
    val out = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(dir.resolve(s"expression_$acc.tsv")), UTF_8), 1 << 16)
    try {
      out.write(header.mkString("\t")); out.write('\n')
      val sb = new java.lang.StringBuilder(16 * header.size)
      for (g <- 0 until shape.rawGenes) {
        if (g == 7) { out.write("\t1.0\n"); out.write('\n') }
        val id = geneId(g)
        val loads = Array.fill(3)(r.nextGaussian())
        val truth = if (keep(id)) Array.fill(shape.samples)(Double.NaN) else null
        sb.setLength(0)
        sb.append(id)
        for (j <- inMatrix) {
          sb.append('\t')
          matrixCells += 1
          if (r.nextDouble() < shape.badCellRate) sb.append(BadCells(r.nextInt(BadCells.size)))
          else {
            val x = 10.0 + loads(0) * factors(0)(j) + loads(1) * factors(1)(j) +
              loads(2) * factors(2)(j) + 0.7 * r.nextGaussian()
            val fixed = math.max(0L, math.round(x * 10000.0))
            numericCells += 1
            appendFixed4(sb, fixed)
            if (truth != null) truth(j) = fixed / 10000.0
          }
        }
        extraColumn.foreach(_ => sb.append("\t1.2345"))
        sb.append('\n')
        out.append(sb)
        if (truth != null) values(id) = truth
      }
    } finally out.close()

    Study(acc, dir, samples, values.toMap, platforms.toSet, illnesses.toSet,
      unknown, matrixCells, numericCells)
  }

  /** `v / 10^4` with exactly four decimals; parses back to the same
    * double as `v / 10000.0`.
    */
  private def appendFixed4(sb: java.lang.StringBuilder, v: Long): Unit = {
    sb.append(v / 10000).append('.')
    val frac = (v % 10000).toInt
    if (frac < 1000) sb.append('0')
    if (frac < 100) sb.append('0')
    if (frac < 10) sb.append('0')
    sb.append(frac)
  }

  def accession(index: Int): String = s"GSE${100001 + index}"

  def studies(root: Path, seed: Long, from: Int, n: Int, shape: Int => Shape,
      wl: Whitelist, threads: Int): IndexedSeq[Study] =
    parallel(n, threads)(k => study(root, seed, from + k, accession(from + k), shape(from + k), wl))

  // ---- document corpus ------------------------------------------------

  final case class Doc(doc_id: Long, text: String, source: String, lang: String)

  private val Sources = IndexedSeq("web", "books", "forums", "news")
  private val Langs = IndexedSeq("en", "de", "es")
  private val Stop = Map(
    "en" -> IndexedSeq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> IndexedSeq("der", "die", "das", "und", "ist", "ein", "zu"),
    "es" -> IndexedSeq("el", "la", "los", "de", "y", "es", "que"))
  private val Syllables = IndexedSeq("ka", "lo", "mer", "tan", "vi", "zor", "pel", "dru",
    "sen", "qua", "rit", "bo", "nel", "fa", "gim", "hu")

  /** `n` short documents over 4 sources × 3 languages. Fixed rates:
    * 6% exact copies of an earlier doc, 4% re-punctuated/re-cased
    * copies (normalized duplicates), 3% one-word edits of an earlier
    * doc (near duplicates), 8% low-quality punctuation runs the
    * quality gate drops; a tenth of the rest carry an email or phone
    * number.
    */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, "corpus", 0)
    val vocab = IndexedSeq.fill(4000) {
      (0 until 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
    }
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    for (i <- 0 until n) {
      val source = Sources(r.nextInt(Sources.size))
      val lang = Langs(r.nextInt(Langs.size))
      val u = r.nextDouble()
      val text =
        if (i > 20 && u < 0.06) docs(r.nextInt(i)).text
        else if (i > 20 && u < 0.10) {
          val t = docs(r.nextInt(i)).text
          t.toUpperCase.replace(" ", " , ") + " !"
        } else if (i > 20 && u < 0.13) {
          val w = docs(r.nextInt(i)).text.split(" ")
          w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
          w.mkString(" ")
        } else if (u < 0.21) Seq.fill(5 + r.nextInt(10))("#@!%&*").mkString(" ")
        else {
          val stop = Stop(lang)
          val words = (0 until 20 + r.nextInt(60)).map { _ =>
            if (r.nextDouble() < 0.3) stop(r.nextInt(stop.size)) else vocab(r.nextInt(vocab.size))
          }
          val pii =
            if (r.nextDouble() < 0.10)
              if (r.nextBoolean()) Seq(s"mail ${vocab(r.nextInt(vocab.size))}@example.com")
              else Seq(f"call 555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d")
            else Nil
          (words ++ pii).mkString(" ")
        }
      docs += Doc(i.toLong, text, source, lang)
    }
    docs.toIndexedSeq
  }
}
