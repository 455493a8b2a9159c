package perfbench

import scala.collection.mutable

import graft.core.Duke
import graft.model.{Doc, EntityRecord, MatchConfig}
import graft.pipeline.{Blocking, ErPipeline}

/** Union-find; `components` counts the roots. */
final class UnionFind[K] {
  private val parent = mutable.HashMap[K, K]()
  def add(x: K): Unit = if (!parent.contains(x)) parent(x) = x
  def find(x: K): K = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }
  def union(a: K, b: K): Unit = { add(a); add(b); val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
  def components: Int = parent.keys.count(k => find(k) == k)
}

/** Driver-side reference of record linkage over a collected corpus, written
  * from the definitions and not from the distributed operators: clean each
  * doc with the compiled Duke config, pair every two docs that share a
  * blocking key, score each pair on one thread, link at the threshold and
  * close transitively with union-find.
  */
final class LinkReference(docs: Seq[Doc], val config: MatchConfig) {
  val compiled: Duke.CompiledConfig = Duke.compile(config)

  /** doc -> cleaned props (the same per-kind extraction as the pipeline). */
  val records: Map[String, Map[String, Seq[String]]] = docs.map { d =>
    val byKind = d.spans.groupBy(_.kind)
    val raw = config.properties.map { p =>
      p.name -> byKind.getOrElse(p.name, Nil).map(s => if (p.name == "media") s.media_ref else s.text)
    }.toMap
    d.doc_id -> compiled.clean(EntityRecord(d.doc_id, raw)).props
  }.toMap

  /** Distinct co-blocked pairs (a < b). */
  val pairs: Array[(String, String)] = {
    val keyers = Blocking.fromConfig(config)
    val byKey = mutable.HashMap[String, mutable.ArrayBuffer[String]]()
    records.foreach { case (id, props) =>
      Blocking.keys(keyers)(ErPipeline.CleanRecord(id, props))
        .foreach(k => byKey.getOrElseUpdate(k, mutable.ArrayBuffer()) += id)
    }
    val seen = mutable.HashSet[(String, String)]()
    byKey.valuesIterator.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) seen += ((s(i), s(j)))
    }
    seen.toArray.sorted
  }

  val matches: Set[(String, String)] = pairs.iterator
    .filter { case (a, b) => compiled.score(records(a), records(b)) >= config.threshold }.toSet

  val clusters: Long = {
    val uf = new UnionFind[String]
    records.keys.foreach(uf.add)
    matches.foreach { case (a, b) => uf.union(a, b) }
    uf.components.toLong
  }

  def fingerprint: String =
    s"docs=${records.size} pairs=${pairs.length} matches=${matches.size} clusters=$clusters"
}
