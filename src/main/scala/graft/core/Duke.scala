package graft.core

import graft.model.{EntityRecord, MatchConfig, PropertySpec}

/** The Duke probability model — SURVEY.md §8 (the parity contract):
  * per-property similarity -> probability curve, naive-Bayes fold, multi-value
  * max, missing-value skip. This is the exact math the reference plugin runs per
  * candidate document (`[U EntityResolutionScript.java#runAsDouble]`,
  * `[D Processor.java#compare]`, `[D utils/Utils.java#computeBayes]`).
  *
  * Pure JVM. Two folds share `bayes` and `propertyProbability`:
  *  - `CompiledConfig.score` over Scala `Map`s is the naive REFERENCE fold. In
  *    the engine only `Eval` (gold labels) calls it; tests compare against it.
  *  - `DukeArrayKernel.score` over per-property value arrays is the PRODUCTION
  *    kernel: the batched mapPartitions scorer (`ErPipeline.score`) and the
  *    Catalyst `DukeScoreExpr` both run it. Parity with the reference is
  *    asserted bit-for-bit by DukeScoreExprSpec.
  */
object Duke {

  /** bayes(a,b) = ab / (ab + (1-a)(1-b)) `[D utils/Utils.java#computeBayes]`. */
  def bayes(a: Double, b: Double): Double = {
    val n = a * b
    n / (n + (1.0 - a) * (1.0 - b))
  }

  /** Per-property probability `[D Property.java#compare]` (SURVEY.md §8.1):
    * sim >= 0.5 -> (high - 0.5)*sim^2 + 0.5, else low.
    */
  def propertyProbability(sim: Double, low: Double, high: Double): Double =
    if (sim >= 0.5) (high - 0.5) * sim * sim + 0.5 else low

  /** Best probability over the value cross product of one property (A2 multi-value
    * max, `[D Processor.java#compare]`), with the missing-value skip (P3): empty
    * value lists yield None (no evidence — the fold must not update).
    * Values are assumed already cleaned; empty strings excluded *before* the max
    * (SURVEY.md §7.4 parity pitfall).
    */
  def propertyFactor(
      v1: Seq[String],
      v2: Seq[String],
      spec: PropertySpec,
      fn: (String, String, Array[Double]) => Double,
      params: Array[Double]): Option[Double] = {
    val a = v1.filter(v => v != null && v.nonEmpty)
    val b = v2.filter(v => v != null && v.nonEmpty)
    if (a.isEmpty || b.isEmpty) None
    else {
      var best = Double.NegativeInfinity
      for (x <- a; y <- b) {
        val p = propertyProbability(fn(x, y, params), spec.low, spec.high)
        if (p > best) best = p
      }
      Some(best)
    }
  }

  /** Compiled per-property scorer: cleaner chain + comparator resolved once (the
    * Spark analog of the plugin Factory parsing the query params once per query,
    * not once per doc — SURVEY.md §3.1/§4 "config parse once").
    */
  final class CompiledProperty(val spec: PropertySpec) extends Serializable {
    @transient private var fn0: (String, String, Array[Double]) => Double = _
    @transient private var chain0: String => String = _
    private val params: Array[Double] = spec.params.toArray
    private def fn: (String, String, Array[Double]) => Double = {
      if (fn0 == null) fn0 = Similarity.registry(spec.comparator)
      fn0
    }
    // cleaner chain resolved once per task (compiled regexes / loaded dicts),
    // not once per value — Cleaners.compileChain handles parameterized specs
    private def cleanChain: String => String = {
      if (chain0 == null) chain0 = Cleaners.compileChain(spec.cleaners)
      chain0
    }
    def cleanedValues(raw: Seq[String]): Seq[String] =
      if (raw == null) Nil
      else raw.map(cleanChain).filter(v => v != null && v.nonEmpty)
    /** factor over already-cleaned values */
    def factor(v1: Seq[String], v2: Seq[String]): Option[Double] =
      propertyFactor(v1, v2, spec, fn, params)
  }

  /** Compiled configuration — fixed property order for a deterministic fold. */
  final class CompiledConfig(val config: MatchConfig) extends Serializable {
    val properties: Array[CompiledProperty] =
      config.properties.map(new CompiledProperty(_)).toArray

    /** Score two records of already-cleaned values (prior 0.5, SURVEY.md §8.3). */
    def score(a: Map[String, Seq[String]], b: Map[String, Seq[String]]): Double = {
      var acc = 0.5
      var i = 0
      while (i < properties.length) {
        val p = properties(i)
        // id/ignore properties are never evidence (`[D Property.java]` flags)
        if (p.spec.isEvidence) {
          p.factor(
            a.getOrElse(p.spec.name, Nil),
            b.getOrElse(p.spec.name, Nil)) match {
            case Some(f) => acc = bayes(acc, f)
            case None    =>
          }
        }
        i += 1
      }
      acc
    }

    /** Clean a raw record once (map side, before the self-join — each record is
      * cleaned once, not once per candidate pair).
      */
    def clean(r: EntityRecord): EntityRecord =
      EntityRecord(
        r.doc_id,
        properties.iterator
          .map(p => p.spec.name -> p.cleanedValues(r.props.getOrElse(p.spec.name, Nil)))
          .toMap)

    def classify(score: Double): String =
      if (score >= config.threshold) "match"
      else if (score >= config.maybeThreshold) "maybe"
      else "no-match"
  }

  def compile(config: MatchConfig): CompiledConfig = new CompiledConfig(config)
}

/** The production Duke fold: same math as `Duke.CompiledConfig.score`, over
  * per-property cleaned-value arrays in config order. `vals(2i)` / `vals(2i+1)`
  * are the a / b values of property i; a `null` array means the side is
  * missing. Null and empty values are skipped before the max, exactly as the
  * reference fold filters them.
  */
final class DukeArrayKernel(val config: MatchConfig) extends Serializable {

  @transient private lazy val fns: Array[(String, String, Array[Double]) => Double] =
    config.properties.map(p => Similarity.registry(p.comparator)).toArray
  private val lows: Array[Double] = config.properties.map(_.low).toArray
  private val highs: Array[Double] = config.properties.map(_.high).toArray
  private val params: Array[Array[Double]] = config.properties.map(_.params.toArray).toArray
  // id/ignore properties contribute no evidence (Duke Property flags)
  private val evidence: Array[Boolean] = config.properties.map(_.isEvidence).toArray

  def score(vals: Array[Array[String]]): Double = {
    var acc = 0.5
    var i = 0
    while (i < lows.length) {
      val a = vals(2 * i)
      val b = vals(2 * i + 1)
      if (evidence(i) && a != null && b != null) {
        val fn = fns(i)
        var best = Double.NegativeInfinity
        var ai = 0
        while (ai < a.length) {
          val x = a(ai)
          if (x != null && x.nonEmpty) {
            var bi = 0
            while (bi < b.length) {
              val y = b(bi)
              if (y != null && y.nonEmpty) {
                val p = Duke.propertyProbability(fn(x, y, params(i)), lows(i), highs(i))
                if (p > best) best = p
              }
              bi += 1
            }
          }
          ai += 1
        }
        if (best > Double.NegativeInfinity) acc = Duke.bayes(acc, best)
      }
      i += 1
    }
    acc
  }
}
