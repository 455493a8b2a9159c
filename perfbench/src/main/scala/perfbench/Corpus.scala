package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Doc, MatchConfig}
import graft.pipeline.Fixtures

/** Inputs shared by the three record-linkage workloads: the fixture corpus
  * with a wide surname space and mild hot keys, made from the seed.
  */
object Corpus {
  val config: MatchConfig = MatchConfig.fixture

  def entities(run: Run): Long = if (run.toy) 150L else 1500L

  def gen(run: Run): Fixtures.GenConfig =
    Fixtures.GenConfig(seed = run.seed, hotKeyFraction = 0.001, surnameSpace = 30000)

  /** Write the corpus as parquet under a fresh dir and return that dir. */
  def write(run: Run): String = {
    val dir = run.freshDir("docs")
    Fixtures.docs(run.spark, entities(run), gen(run)).write.mode("overwrite").parquet(dir)
    dir
  }

  def read(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Doc]
  }

  def reference(run: Run, docs: Dataset[Doc]): LinkReference = {
    val ref = new LinkReference(docs.collect().toSeq, config)
    Fingerprints.check(run, "link", ref.fingerprint)
    ref
  }
}

/** Recorded reference fingerprints per (corpus, scale, seed). A seed with a
  * recorded line must reproduce it; the driver-side reference is checked
  * against the program for every seed.
  */
object Fingerprints {
  def check(run: Run, corpus: String, fingerprint: String): Unit = {
    val scale = if (run.toy) "toy" else "full"
    run.say(s"reference $corpus seed=${run.seed} scale=$scale: $fingerprint")
    val file = Paths.get(sys.props.getOrElse("perfbench.fingerprints", "perfbench/fingerprints.tsv"))
    if (Files.exists(file)) {
      Files.readAllLines(file).asScala.map(_.split('\t'))
        .collectFirst { case Array(c, s, seed, fp) if c == corpus && s == scale &&
          seed == run.seed.toString => fp }
        .foreach(fp => run.op(s"recorded $corpus fingerprint: want $fp, got $fingerprint",
          fp == fingerprint))
    }
  }
}
