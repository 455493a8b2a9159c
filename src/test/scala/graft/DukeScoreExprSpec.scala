package graft

import org.apache.spark.sql.Dataset

import graft.core.Duke
import graft.model.{MatchConfig, PropertySpec}
import graft.pipeline.{ErPipeline, Fixtures}
import graft.pipeline.ErPipeline.{CleanRecord, PairIds}

/** The production kernel behind `ErPipeline.score` (both overloads) must be
  * bit-identical to the reference fold `Duke.CompiledConfig.score`, run on the
  * driver over the same collected records (SURVEY.md M5 parity contract).
  */
class DukeScoreExprSpec extends SparkSpec {

  /** Both overloads vs the reference fold, exact `==` on every pair. */
  private def assertParity(
      pairs: Dataset[PairIds],
      aRecs: Dataset[CleanRecord],
      bRecs: Dataset[CleanRecord],
      config: MatchConfig): Map[(String, String), Double] = {
    val cc = Duke.compile(config)
    val aProps = aRecs.collect().map(r => r.doc_id -> r.props).toMap
    val bProps = bRecs.collect().map(r => r.doc_id -> r.props).toMap
    val want = pairs.collect()
      .map(p => (p.a_id, p.b_id) -> cc.score(aProps(p.a_id), bProps(p.b_id))).toMap
    def scores(ds: Dataset[ErPipeline.ScoredPair]) =
      ds.collect().map(p => (p.a_id, p.b_id) -> p.score).toMap
    val twoCorpus = scores(ErPipeline.score(pairs, aRecs, bRecs, config))
    val all = if (aRecs eq bRecs) aRecs else aRecs.union(bRecs) // disjoint ids
    val oneCorpus = scores(ErPipeline.score(pairs, all, config))
    assert(want.nonEmpty)
    for ((name, got) <- Seq("two-corpus" -> twoCorpus, "one-corpus" -> oneCorpus)) {
      assert(got.keySet === want.keySet, name)
      val drift = want.filter { case (k, v) => got(k) != v }
      assert(drift.size === 0, s"$name: ${drift.size} of ${want.size} scores differ, e.g. " +
        drift.take(3).map { case (k, v) => s"$k kernel=${got(k)} reference=$v" }.mkString("; "))
    }
    want
  }

  test("ErPipeline.score == reference fold, bit-for-bit, on the fixture pipeline") {
    val config = MatchConfig.fixture
    val records = ErPipeline.extract(Fixtures.docs(spark, 400), config)
    val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records))
    val scores = assertParity(pairIds, records, records, config)
    assert(scores.values.exists(_ >= config.threshold))
  }

  // multi-value, null and empty values, non-ASCII text, a key missing from
  // one side's map, id and ignore properties
  test("ErPipeline.score == reference fold on hand-built edge-case records") {
    import spark.implicits._
    val config = MatchConfig(0.8, 0.6, Seq(
      PropertySpec("id", Nil, "exact", 0.01, 0.99, idProperty = true),
      PropertySpec("name", Nil, "jaro-winkler", 0.1, 0.95),
      PropertySpec("note", Nil, "exact", 0.01, 0.99, ignoreProperty = true),
      PropertySpec("address", Nil, "qgram", 0.2, 0.9, params = Seq(2.0, 1.0)),
      PropertySpec("phone", Nil, "exact", 0.05, 0.98)))
    val pool = Seq("john smith", "jon smith", "zoë müller", "zoe muller", "ørjan østby",
      "東京都 港区", "straße 7", "", null, "5551234", "555 1234", "x")
    val r = new scala.util.Random(71)
    def rec(id: String): CleanRecord = CleanRecord(id,
      config.properties.flatMap { p =>
        // ~1 in 5 properties is absent from the map altogether
        if (r.nextInt(5) == 0) None
        else Some(p.name -> Seq.fill(r.nextInt(4))(pool(r.nextInt(pool.size))))
      }.toMap)
    val aRecs = (1 to 40).map(i => rec(s"a$i"))
    val bRecs = (1 to 40).map(i => rec(s"b$i"))
    // the generator must actually produce every edge case it is named for
    val vals = (aRecs ++ bRecs).flatMap(_.props.values)
    assert(vals.exists(_.size > 1) && vals.exists(_.contains(null)) &&
      vals.exists(_.contains("")) && vals.exists(_.isEmpty))
    assert((aRecs ++ bRecs).exists(_.props.size < config.properties.size))
    val pairs = (for (a <- aRecs; b <- bRecs) yield PairIds(a.doc_id, b.doc_id, "k")).toDS()
    val scores = assertParity(pairs, aRecs.toDS(), bRecs.toDS(), config)
    assert(scores.values.exists(_ > 0.5) && scores.values.exists(_ < 0.5) &&
      scores.values.exists(_ == 0.5))
  }
}
