package e2ebench

import org.apache.spark.sql.Row
import scala.collection.mutable

/** Output checks that do not trust the program: expected values come
  * from the generator's ground truth and from plain-Scala
  * re-implementations of the paper's statistics. Each failed check is
  * one failure in the run's error count.
  */
final class Check {
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def apply(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception => failures += s"$what: threw ${e.getClass.getSimpleName}: ${e.getMessage}"; true
    }
    if (!passed) failures += what
  }

  def equal[A](what: String, got: A, want: A): Unit =
    apply(s"$what: got $got, want $want")(got == want)
}

object Reference {

  /** 1-based ranks, ties averaged (fractional ranking). */
  def fractionalRanks(xs: Array[Double]): Array[Double] = {
    val idx = xs.indices.sortBy(xs(_)).toArray
    val out = new Array[Double](xs.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && xs(idx(j + 1)) == xs(idx(i))) j += 1
      val r = (i + j) / 2.0 + 1.0
      (i to j).foreach(k => out(idx(k)) = r)
      i = j + 1
    }
    out
  }

  def pearson(a: Array[Double], b: Array[Double]): Double = {
    val n = a.length
    val ma = a.sum / n
    val mb = b.sum / n
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      val da = a(i) - ma; val db = b(i) - mb
      sab += da * db; saa += da * da; sbb += db * db
      i += 1
    }
    sab / math.sqrt(saa * sbb)
  }

  /** Abramowitz & Stegun 7.1.26, the erf the paper's p-value uses. */
  def erf(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val poly = ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t - 0.284496736) * t +
      0.254829592) * t
    (if (x < 0.0) -1.0 else 1.0) * (1.0 - poly * math.exp(-x * x))
  }

  /** Two-sided normal-approximation p for Spearman rho; None when n < 3. */
  def pValue(rho: Double, n: Int): Option[Double] =
    if (n < 3) None
    else if (math.abs(rho) >= 1.0) Some(0.0)
    else {
      val t = rho * math.sqrt((n - 2.0) / (1.0 - rho * rho))
      val p = 2.0 * (1.0 - 0.5 * (1.0 + erf(math.abs(t) / math.sqrt(2.0))))
      Some(math.min(1.0, math.max(0.0, p)))
    }

  /** Benjamini-Hochberg q-values of one family, in input order. */
  def bh(p: IndexedSeq[Double]): IndexedSeq[Double] = {
    val m = p.size
    val order = p.indices.sortBy(p(_))
    val q = new Array[Double](m)
    var run = 1.0
    for (k <- (m - 1) to 0 by -1) {
      val i = order(k)
      run = math.min(run, p(i) * m / (k + 1))
      q(i) = run
    }
    q.toIndexedSeq
  }

  final case class Pair(a: String, b: String, n: Int, rho: Double, p: Double, q: Option[Double])

  /** Every gated gene pair of one study, as the paper defines it:
    * ranks over the samples both genes observed, Pearson of the ranks,
    * pairs with < 2 shared samples or a constant side dropped.
    */
  def pairs(study: Gen.Study): IndexedSeq[Pair] = {
    val genes = study.values.keys.toIndexedSeq.sorted
    val raw = for {
      i <- genes.indices
      j <- (i + 1) until genes.size
      va = study.values(genes(i))
      vb = study.values(genes(j))
      shared = va.indices.filter(k => !va(k).isNaN && !vb(k).isNaN).toArray
      if shared.length >= 2
      xa = shared.map(va)
      xb = shared.map(vb)
      if xa.min < xa.max && xb.min < xb.max
      rho = pearson(fractionalRanks(xa), fractionalRanks(xb))
      if !rho.isNaN
    } yield (genes(i), genes(j), shared.length, rho)
    val ps = raw.map { case (_, _, n, rho) => pValue(rho, n) }
    val valid = ps.flatten
    val qs = bh(valid).iterator
    raw.zip(ps).map { case ((a, b, n, rho), p) =>
      Pair(a, b, n, rho, p.getOrElse(1.0), p.map(_ => qs.next()))
    }
  }

  /** Σ over gated pairs of their shared samples. */
  def pairSamples(ps: Seq[Pair]): Long = ps.iterator.map(_.n.toLong).sum

  /** Text with e-mail addresses and phone numbers replaced by one
    * placeholder token each, as the pii_redact stage is defined.
    */
  def redacted(text: String): String =
    text.replaceAll("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
      .replaceAll("\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>")

  /** Whitespace tokens of `text` (0 when blank). */
  def wsTokens(text: String): Long = {
    val t = text.trim
    if (t.isEmpty) 0L else t.split("\\s+").length.toLong
  }

  /** The normalization the normalized-dedup stage is defined by. */
  def normalized(text: String): String =
    text.replaceAll("[^a-zA-Z0-9]+", " ").toLowerCase.trim
}

/** Checks over a loaded warehouse, read through the program's public
  * `Warehouse.read`.
  */
object WarehouseChecks {
  import org.apache.spark.sql.functions._

  /** Fact count per study, every dim's size and content, and the
    * metadata fields, against the generator's truth for `studies`.
    */
  def load(check: Check, wh: graft.etl.Warehouse, studies: Seq[Gen.Study], tag: String): Unit = {
    val studyDim = wh.read("dim_study").collect()
      .map(r => r.getAs[String]("gse_accession") -> r.getAs[Number]("study_key").longValue()).toMap
    check.equal(s"$tag dim_study accessions", studyDim.keySet, studies.map(_.acc).toSet)
    val factsByKey = wh.read("fact_expression").groupBy("study_key").count().collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getLong(1)).toMap
    studies.foreach { s =>
      check.equal(s"$tag facts of ${s.acc}",
        studyDim.get(s.acc).flatMap(factsByKey.get).getOrElse(0L), s.facts)
    }
    check.equal(s"$tag fact rows", factsByKey.values.sum, studies.map(_.facts).sum)
    check.equal(s"$tag distinct (sample, gene) facts",
      wh.read("fact_expression").select("sample_key", "gene_key").distinct().count(),
      studies.map(_.facts).sum)
    check.equal(s"$tag dim_gene", wh.read("dim_gene").collect().map(_.getString(1)).toSet,
      studies.flatMap(_.genesWithFacts).toSet)
    check.equal(s"$tag dim_platform",
      wh.read("dim_platform").collect().map(_.getString(1)).toSet,
      studies.flatMap(_.platforms).toSet)
    check.equal(s"$tag dim_illness",
      wh.read("dim_illness").collect().map(_.getString(1)).toSet,
      studies.flatMap(_.illnesses).toSet)
    val samplesByKey = wh.read("dim_sample").groupBy("study_key").agg(
        count(lit(1)).as("n"), countDistinct("gsm_accession").as("d")).collect()
      .map(r => r.getAs[Number](0).longValue() -> (r.getLong(1), r.getLong(2))).toMap
    studies.foreach { s =>
      val n = s.samples.size.toLong
      check.equal(s"$tag dim_sample rows of ${s.acc}",
        studyDim.get(s.acc).flatMap(samplesByKey.get).getOrElse((0L, 0L)), (n, n))
    }
    val unknown = wh.read("dim_sample").agg(
      sum(when(col("age") === "UNKNOWN", 1).otherwise(0)),
      sum(when(col("sex") === "UNKNOWN", 1).otherwise(0)),
      sum(when(col("illness_key").isNull, 1).otherwise(0))).head()
    check.equal(s"$tag UNKNOWN age+sex+illness cells",
      (0 to 2).map(unknown.getLong).sum, studies.map(_.unknownCells).sum.toLong)
    val state = wh.read("etl_study_state").where(col("facts_loaded"))
      .collect().map(_.getString(0)).toSet
    check.equal(s"$tag studies with facts_loaded state", state, studies.map(_.acc).toSet)
  }

  /** Every correlation row of `studies` against the plain-Scala
    * reference: the pair set, n, rho, p and q of each pair (|Δ| ≤ 1e-9),
    * and q monotone in p within each study.
    */
  def correlations(check: Check, wh: graft.etl.Warehouse, studies: Seq[Gen.Study],
      refs: Map[String, IndexedSeq[Reference.Pair]], tag: String): Unit = {
    val studyKey = wh.read("dim_study").collect()
      .map(r => r.getAs[String]("gse_accession") -> r.getAs[Number]("study_key").longValue()).toMap
    val gene = wh.read("dim_gene").collect()
      .map(r => r.getAs[Number]("gene_key").longValue() -> r.getAs[String]("ensembl_id")).toMap
    val keys = studies.flatMap(s => studyKey.get(s.acc))
    val rows: Map[Long, Array[Row]] = wh.read("fact_gene_pair_corr")
      .where(col("study_key").isin(keys: _*))
      .select("study_key", "gene_a_key", "gene_b_key", "n_samples", "rho_spearman",
        "p_value", "q_value")
      .collect().groupBy(_.getAs[Number](0).longValue())
    val Tol = 1e-9
    studies.foreach { s =>
      val ref = refs(s.acc).map(p => (p.a, p.b) -> p).toMap
      val got = studyKey.get(s.acc).flatMap(rows.get).getOrElse(Array.empty[Row])
      check.equal(s"$tag pair count of ${s.acc}", got.length, ref.size)
      var worst = (0.0, "")
      var missing = 0
      got.foreach { r =>
        val (a, b) = {
          val x = gene(r.getAs[Number](1).longValue())
          val y = gene(r.getAs[Number](2).longValue())
          if (x < y) (x, y) else (y, x)
        }
        ref.get((a, b)) match {
          case None => missing += 1
          case Some(p) =>
            if (r.getAs[Number](3).longValue() != p.n) missing += 1
            val q = Option(r.get(6)).map(_.asInstanceOf[Double])
            val d = Seq(
              ("rho", r.getDouble(4), p.rho), ("p", r.getDouble(5), p.p),
              ("q", q.getOrElse(Double.NaN), p.q.getOrElse(Double.NaN)))
              .map { case (f, x, y) =>
                (if (x.isNaN && y.isNaN) 0.0 else if (x.isNaN || y.isNaN) Double.PositiveInfinity
                 else math.abs(x - y), s"$f of ($a, $b): got $x, want $y")
              }.maxBy(_._1)
            if (d._1 > worst._1) worst = d
        }
      }
      check(s"$tag ${s.acc}: $missing rows with a pair or n the reference lacks")(missing == 0)
      check(s"$tag ${s.acc}: |Δ| = ${worst._1} > $Tol for ${worst._2}")(worst._1 <= Tol)
      val byP = got.filter(r => !r.isNullAt(6)).map(r => (r.getDouble(5), r.getDouble(6))).sortBy(_._1)
      check(s"$tag ${s.acc}: BH q not monotone in p")(
        byP.iterator.sliding(2).forall(w => w.size < 2 || w(0)._2 <= w(1)._2 + 1e-15))
    }
  }
}
