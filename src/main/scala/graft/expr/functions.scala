package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.functions._

import graft.model.MatchConfig

/** Column-level API over the custom expressions — the engine's `functions._`
  * (SURVEY.md §2.3/§2.4/§2.5). Everything composes as ordinary Columns, so
  * Catalyst prunes/pushes/constant-folds around them.
  */
object functions {

  private def col2(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    graftshim.column(e)
  private def x(c: Column) = graftshim.expression(c)

  // -------- comparators (K1-K14) --------
  def sim_exact(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "exact"))
  def sim_jaro(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "jaro"))
  def sim_jaro_winkler(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "jaroWinkler"))
  def sim_jaro_winkler_tokenized(a: Column, b: Column): Column =
    col2(SimExpr(x(a), x(b), "jaroWinklerTokenized"))
  def sim_levenshtein(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "levenshteinSim"))
  def sim_levenshtein_cutoff(a: Column, b: Column): Column =
    col2(SimExpr(x(a), x(b), "levenshteinSimCutoff"))
  def sim_weighted_levenshtein(a: Column, b: Column, digitWeight: Double = 2.0): Column =
    col2(SimExpr(x(a), x(b), "weightedLevenshteinSimD", Seq(digitWeight)))
  def sim_qgram(a: Column, b: Column, q: Int = 2, formula: Int = 1): Column =
    col2(SimExpr(x(a), x(b), "qgramSimD", Seq(q.toDouble, formula.toDouble)))
  def sim_dice(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "diceToken"))
  def sim_jaccard(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "jaccardToken"))
  def sim_numeric(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "numericSim"))
  def sim_geoposition(a: Column, b: Column, maxMeters: Double): Column =
    col2(SimExpr(x(a), x(b), "geoSimD", Seq(maxMeters)))
  def sim_soundex(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "soundexEq"))
  def sim_metaphone(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "metaphoneEq"))
  def sim_norphone(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "norphoneEq"))
  def sim_person_name(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "personNameSim"))
  def sim_lcs(a: Column, b: Column): Column = col2(SimExpr(x(a), x(b), "lcsSim"))

  /** Comparator by registry name (Duke class names accepted — SURVEY.md §1.2). */
  def sim(comparator: String, a: Column, b: Column, params: Seq[Double] = Nil): Column = {
    val short = comparator.stripPrefix("no.priv.garshol.duke.comparators.") match {
      case "ExactComparator" | "exact"                           => "exact"
      case "JaroWinkler" | "jaro-winkler"                        => "jaroWinkler"
      case "JaroWinklerTokenized" | "jaro-winkler-tokenized"     => "jaroWinklerTokenized"
      case "Levenshtein" | "levenshtein"                         => "levenshteinSim"
      case "levenshtein-max"                                     => "levenshteinSimMax"
      case "levenshtein-cutoff"                                  => "levenshteinSimCutoff"
      case "WeightedLevenshtein" | "weighted-levenshtein"        => "weightedLevenshteinSimD"
      case "QGramComparator" | "qgram"                           => "qgramSimD"
      case "DiceCoefficientComparator" | "dice"                  => "diceToken"
      case "JaccardIndexComparator" | "jaccard"                  => "jaccardToken"
      case "NumericComparator" | "numeric"                       => "numericSim"
      case "GeopositionComparator" | "geoposition"               => "geoSimD"
      case "SoundexComparator" | "soundex"                       => "soundexEq"
      case "MetaphoneComparator" | "metaphone"                   => "metaphoneEq"
      case "NorphoneComparator" | "norphone"                     => "norphoneEq"
      case "PersonNameComparator" | "person-name"                => "personNameSim"
      case "LongestCommonSubstring" | "longest-common-substring" => "lcsSim"
      case other => throw new IllegalArgumentException(s"unknown comparator $other")
    }
    val defaults: Seq[Double] = short match {
      case "qgramSimD" if params.isEmpty               => Seq(2.0, 1.0)
      case "weightedLevenshteinSimD" if params.isEmpty => Seq(2.0)
      case "geoSimD" if params.isEmpty                 => Seq(1000.0)
      case _                                           => params
    }
    col2(SimExpr(x(a), x(b), short, defaults))
  }

  // -------- cleaners (C1-C9) --------
  def clean(cleaner: String, c: Column): Column = {
    val short = Cleaning.shortName(cleaner)
    col2(CleanExpr(x(c), short))
  }
  def clean_chain(cleaners: Seq[String], c: Column): Column =
    cleaners.foldLeft(c)((acc, n) => clean(n, acc))

  // -------- text-dedup kernels --------
  def vec_dot(a: Column, b: Column): Column = col2(VecDotExpr(x(a), x(b)))
  def vec_norm(c: Column): Column = col2(VecNormExpr(x(c)))
  def sign_lsh_bucket(c: Column, band: Int, planesPerBand: Int): Column =
    col2(SignLshExpr(x(c), band, planesPerBand))
  def rolling_fp(c: Column): Column = col2(RollingFpExpr(x(c)))
  def shingle_fps(c: Column, k: Int = 3): Column = col2(TokenShingleFpsExpr(x(c), k))
  def simhash64(c: Column): Column = col2(Simhash64Expr(x(c)))

  // -------- phonetics --------
  def soundex_code(c: Column): Column = col2(PhoneticExpr(x(c), "soundex"))
  def metaphone_code(c: Column): Column = col2(PhoneticExpr(x(c), "metaphone"))
  def norphone_code(c: Column): Column = col2(PhoneticExpr(x(c), "norphone"))

  // -------- Duke probability math as columns (A1, A3 — SURVEY.md §2.5) --------
  /** A1: per-property probability curve, constant-folds for literal low/high. */
  def duke_probability(simCol: Column, low: Double, high: Double): Column =
    when(simCol >= 0.5, lit(high - 0.5) * simCol * simCol + 0.5).otherwise(lit(low))

  /** A3 building block: bayes(a,b) = ab/(ab + (1-a)(1-b)). */
  def bayes_combine(p: Column, q: Column): Column =
    p * q / (p * q + (lit(1.0) - p) * (lit(1.0) - q))

  /** One side of one property as the kernel wants it: raw values (a single
    * string, or an array when `multiValued`) through the cleaner chain, null
    * and empty values dropped (P3). A null array stays null (missing side).
    */
  def clean_values(cleaners: Seq[String], c: Column, multiValued: Boolean): Column = {
    val raw = if (multiValued) c else array(c)
    filter(transform(raw, v => clean_chain(cleaners, v)), v => v.isNotNull && v =!= "")
  }

  /** A4/§8.3: full record score over PRE-CLEANED sides — `sides` =
    * [a_p0, b_p0, a_p1, b_p1, ...] `array<string>` columns in config order,
    * null for a missing side. One `DukeScoreExpr` running the production
    * kernel, so the expression tree stays linear in property count.
    */
  def duke_score_cleaned(config: MatchConfig, sides: Seq[Column]): Column =
    col2(DukeScoreExpr(sides.map(x), config))

  /** A4/§8.3: full record score over RAW values. `sides(name)` yields the
    * (left, right) columns for an evidence property; `multiValued` marks
    * array columns. Each side runs `clean_values`, then `duke_score_cleaned`.
    */
  def duke_score(
      config: MatchConfig,
      sides: String => (Column, Column),
      multiValued: Set[String] = Set.empty): Column = {
    val missing = lit(null).cast("array<string>")
    duke_score_cleaned(config, config.properties.flatMap { spec =>
      if (!spec.isEvidence) Seq(missing, missing)
      else {
        val (a, b) = sides(spec.name)
        val m = multiValued(spec.name)
        Seq(clean_values(spec.cleaners, a, m), clean_values(spec.cleaners, b, m))
      }
    })
  }

  /** Register the SQL surface (`sim_*`, `clean_*`, phonetic codes) so
    * `spark.sql` queries reach the same expressions (SURVEY.md §2.10).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    Seq("exact" -> "exact", "jaro" -> "jaro", "jaro_winkler" -> "jaroWinkler",
      "levenshtein_sim" -> "levenshteinSim", "qgram_dice" -> "qgramDice",
      "dice" -> "diceToken", "jaccard" -> "jaccardToken", "numeric" -> "numericSim",
      "person_name" -> "personNameSim", "lcs" -> "lcsSim",
      "jaro_winkler_tokenized" -> "jaroWinklerTokenized")
      .foreach { case (sqlName, m) =>
        one(s"sim_$sqlName", es => SimExpr(es(0), es(1), m))
      }
    Seq("trim", "lowercase-normalize", "digits-only", "phone-number",
      "family-comma-given", "company-name", "address-norwegian",
      "person-name").foreach { c =>
      one(s"clean_${c.replace('-', '_')}", es => CleanExpr(es.head, c))
    }
    Seq("soundex_code" -> "soundex", "metaphone_code" -> "metaphone",
      "norphone_code" -> "norphone").foreach { case (n, a) =>
      one(n, es => PhoneticExpr(es.head, a))
    }
  }
}

private[expr] object Cleaning {
  def shortName(cleaner: String): String =
    graft.core.Cleaners.normalizeSpec(cleaner) match {
      case "TrimCleaner" | "trim"                                   => "trim"
      case "LowerCaseNormalizeCleaner" | "lowercase-normalize"      => "lowercase-normalize"
      case "DigitsOnlyCleaner" | "digits-only"                      => "digits-only"
      case "PhoneNumberCleaner" | "phone-number"                    => "phone-number"
      case "FamilyCommaGivenCleaner" | "family-comma-given"         => "family-comma-given"
      case "NorwegianCompanyNameCleaner" | "company-name"           => "company-name"
      case "NorwegianAddressCleaner" | "address-norwegian"          => "address-norwegian"
      case "PersonNameCleaner" | "person-name"                      => "person-name"
      // parameterized specs pass through verbatim (CleanExpr resolves them)
      case p if p.startsWith("regexp(") || p.startsWith("mapping(")
        || p.startsWith("mapping-file(")                            => p
      case other => throw new IllegalArgumentException(s"unknown cleaner $other")
    }
}
