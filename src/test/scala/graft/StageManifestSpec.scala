package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.StageManifest

/** The stage contract of `StageManifest.stage`: the row count recorded for a
  * fresh stage is read from the part files' footers, the returned frame has
  * exactly the schema a plain parquet read infers, and the stage starts no
  * Spark job beyond those of its write. Each fast path is checked against
  * its naive twin (a parquet count, a schema-inferring read, a bare write).
  */
class StageManifestSpec extends SparkSpec {

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  private def multiFile: DataFrame =
    spark.range(0, 1000, 1, 4).selectExpr("id", "CAST(id % 7 AS STRING) AS k")

  private def empty: DataFrame =
    spark.range(0, 10, 1, 2).where(col("id") < 0).selectExpr("id", "'x' AS k")

  // map, array and struct columns, with null and empty values inside them
  private def nested: DataFrame =
    spark.range(0, 300, 1, 3).selectExpr(
      "id",
      "map('a', id, 'b', IF(id % 5 = 0, NULL, id * 2)) AS m",
      "IF(id % 7 = 0, array(), array(id, id + 1)) AS arr",
      "named_struct('x', id, 'y', IF(id % 3 = 0, NULL, CAST(id AS STRING)), " +
        "'z', array(named_struct('w', id))) AS s")

  private val outputs: Seq[(String, () => DataFrame)] =
    Seq("multi" -> (() => multiFile), "empty" -> (() => empty), "nested" -> (() => nested))

  test("footer rows equal a parquet count: several files, empty, map/array/struct") {
    val out = tmp("graft-stage-rows")
    val m = new StageManifest(out)
    for ((name, df) <- outputs) {
      m.stage(spark, name)(df())
      val path = s"$out/$name"
      val files = StageManifest.fileRows(spark, path)
      assert(files.map(_._2).sum === spark.read.parquet(path).count(), name)
      assert(m.completedRows(name) === spark.read.parquet(path).count(), name)
      // per file too: each footer count equals a count of that file alone
      files.foreach { case (file, rows) =>
        assert(rows === spark.read.parquet(file).count(), s"$name: $file")
      }
    }
    assert(StageManifest.fileRows(spark, s"$out/multi").size >= 2)
    assert(m.completedRows("empty") === 0L)
    assert(m.completedRows("nested") === 300L)
  }

  test("fileRows skips _ and . files and fails on a subdirectory") {
    val out = tmp("graft-stage-files")
    multiFile.write.parquet(s"$out/flat")
    val names = StageManifest.fileRows(spark, s"$out/flat")
      .map(f => Paths.get(new java.net.URI(f._1)).getFileName.toString)
    assert(names.nonEmpty && names.forall(_.startsWith("part-")))
    assert(Files.exists(Paths.get(out, "flat", "_SUCCESS")))
    multiFile.write.partitionBy("k").parquet(s"$out/nested")
    intercept[IllegalArgumentException](StageManifest.fileRows(spark, s"$out/nested"))
  }

  test("stage returns the written schema (nullability included) and the written rows") {
    val out = tmp("graft-stage-schema")
    val m = new StageManifest(out)
    for ((name, df) <- outputs) {
      val served = m.stage(spark, name)(df())
      val plain = spark.read.parquet(s"$out/$name")
      assert(served.schema === plain.schema, name)
      assert(served.collect().map(_.toString).sorted === plain.collect().map(_.toString).sorted, name)
    }
    // the twin bites: the computed frames carry non-nullable fields that a
    // parquet read does not
    assert(nested.schema !== spark.read.parquet(s"$out/nested").schema)
  }

  test("a fresh stage starts exactly the Spark jobs of its write") {
    val out = tmp("graft-stage-jobs")
    val m = new StageManifest(out)
    val shuffled = () => multiFile.groupBy("k").agg(count("*").as("n"), max("id").as("hi"))
    for ((name, df) <- outputs :+ ("shuffled" -> shuffled)) {
      val (_, writeJobs) = SparkSpec.countJobs(spark) {
        df().write.mode("overwrite").parquet(s"$out/${name}_sibling")
      }
      val (_, stageJobs) = SparkSpec.countJobs(spark) { m.stage(spark, name)(df()) }
      assert(writeJobs > 0, name)
      assert(stageJobs === writeJobs, name)
    }
  }
}
