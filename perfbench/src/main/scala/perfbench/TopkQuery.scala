package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.EntityResolution
import graft.core.Duke
import graft.model.EntityRecord

/** `topk_query`: the reference plugin's user path — an ordinary predicate
  * selects candidates, each is Duke-scored against the query record, the
  * top k return — through `EntityResolution.topK` over a cached candidate
  * frame. Closed loop with one caller: the next query is sent when the
  * previous result is back. One op = one query; query records are corpus
  * docs drawn by the seed. The predicate keeps candidates in the query's
  * city, as an ES `match` clause would.
  */
final class TopkQuery(run0: Run) extends Workload(run0) {
  import spark.implicits._

  private val k = 10
  private val nQueries = 64
  private val sampleChecks = 8
  override protected def prepareReps: Int = 2

  private var candidates: DataFrame = _
  private var queries: IndexedSeq[(String, Map[String, Seq[String]])] = _
  private val compiled = Duke.compile(Corpus.config)
  private var cleaned: Map[String, Map[String, Seq[String]]] = _
  private var rawAddress: Map[String, Seq[String]] = _
  private var candidatesPerQuery = 0.0
  private var next = 0

  /** The cached candidate frame: doc -> one array<string> column per config
    * property, raw values.
    */
  protected def prepare(): Unit = {
    if (candidates != null) candidates.unpersist(true)
    val docs = Corpus.read(spark, Corpus.write(run))
    val cols = Corpus.config.properties.map { p =>
      val field = if (p.name == "media") "media_ref" else "text"
      expr(s"transform(filter(spans, s -> s.kind = '${p.name}'), s -> s.$field)").as(p.name)
    }
    candidates = docs.select(col("doc_id") +: cols: _*).persist(StorageLevel.MEMORY_ONLY)
    candidates.count()
  }

  /** Query records (raw props of corpus docs drawn by the seed) and the
    * driver-side reference over the collected candidates.
    */
  protected def buildReference(): Unit = {
    val all = candidates.as[(String, Seq[String], Seq[String], Seq[String], Seq[String])].collect()
    val names = Corpus.config.properties.map(_.name)
    val raw = all.map { case (id, n, a, p, m) => id -> names.zip(Seq(n, a, p, m)).toMap }
    cleaned = raw.map { case (id, props) => id -> compiled.clean(EntityRecord(id, props)).props }.toMap
    rawAddress = raw.map { case (id, props) => id -> props("address") }.toMap
    val r = new scala.util.Random(run.seed * 31L + 7L)
    queries = IndexedSeq.fill(nQueries)(raw(r.nextInt(raw.length)))
    candidatesPerQuery =
      queries.map { case (_, q) => rawAddress.count { case (id, _) => inCity(id, q) } }.sum.toDouble /
        queries.size
  }

  /** The query's city: the last word of its first address. */
  private def city(q: Map[String, Seq[String]]): String =
    q.getOrElse("address", Nil).headOption.map(_.trim.toLowerCase.split(' ').last).getOrElse("")

  private def predicate(q: Map[String, Seq[String]]): Column =
    exists(col("address"), a => lower(a).endsWith(city(q)))

  private def query(q: Map[String, Seq[String]]): Array[(String, Double)] =
    EntityResolution.topK(candidates, q, Corpus.config, k, predicate(q), Seq(col("doc_id")))
      .select("doc_id", "score").as[(String, Double)].collect()

  protected def step(): Seq[Double] = {
    val (_, q) = queries(next % queries.size)
    next += 1
    val (res, wall) = timed(query(q))
    run.op(s"query returned ${res.length} rows", res.length == k)
    Seq(wall)
  }

  protected def summarize(samples: Seq[Double], setupS: Double): Unit = {
    val p50 = Stats.median(samples)
    val qps = samples.size / samples.sum
    run.endToEnd("query_p50_ms") = (p50 * 1000, "ms")
    run.endToEnd("query_p95_ms") = (Stats.quantile(samples, 0.95) * 1000, "ms")
    run.endToEnd("queries_per_s") = (qps, "1/s")
    run.endToEnd("op_p50_ms") = (p50 * 1000, "ms")
    run.endToEnd("docs_per_s") = (qps * candidatesPerQuery, "1/s")
    run.endToEnd("setup_s") = (setupS, "s")
    run.say(f"${samples.size} queries over ${cleaned.size} candidates, " +
      f"$candidatesPerQuery%.0f scored per query on average")
  }

  private def inCity(id: String, q: Map[String, Seq[String]]): Boolean =
    rawAddress(id).exists(a => a != null && a.toLowerCase.endsWith(city(q)))

  protected def tracedStep(tr: Tracer): Seq[Double] = {
    val (_, q) = queries(next % queries.size)
    next += 1
    val s = tr.begin("api.topk")
    val (res, wall) = timed(query(q))
    tr.end(s)
    s.counters("candidates") = rawAddress.count { case (id, _) => inCity(id, q) }.toDouble
    run.op(s"query returned ${res.length} rows", res.length == k)
    Seq(wall)
  }

  protected def layers(tr: Tracer, ops: Int): Unit = {
    val spans = tr.closedSpans.filter(_.name == "api.topk")
    val plan = spans.flatMap(s => tr.totals(s).firstJobStartMs.map(_ - s.startMs))
    if (plan.nonEmpty) run.layers("api.topk.plan_ms") = plan.sum.toDouble / plan.size
    val cands = spans.map(_.counters.getOrElse("candidates", 0.0)).sum
    val cpu = spans.map(s => tr.totals(s).cpuS).sum
    if (cands > 0) run.layers("api.topk.cpu_us_per_candidate") = cpu * 1e6 / cands
  }

  /** On a sample of queries, the top-k ids and scores must equal the
    * compiled Duke scorer run on the driver over the collected candidates.
    */
  override protected def finalChecks(): Unit =
    queries.take(sampleChecks).foreach { case (qid, q) =>
      val cq = compiled.clean(EntityRecord("query", q)).props
      val want = cleaned.iterator.filter { case (id, _) => inCity(id, q) }
        .map { case (id, props) => id -> compiled.score(cq, props) }.toSeq
        .sortBy { case (id, score) => (-score, id) }.take(k)
      val got = query(q).toSeq
      run.op(s"top-$k of query $qid differs from the driver-side scorer: got $got, want $want",
        got == want)
    }
}
