package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev drive of the declarative-ANN rule through its REAL config-time
  * habitat: a fresh session built with
  * `spark.sql.extensions=graft.GraftExtensions`, so the rule runs
  * inside the operator-optimization FIXED-POINT batch next to
  * OptimizeIn — at nprobe=12 (> the In→InSet conversion threshold of
  * 10) this is exactly the non-convergence scenario the idempotence
  * guard must survive. Also proves the injected `graft_dot` SQL
  * function resolves without a live `register` call. Prints
  * `EXTENSIONS_ANN_OK` on success; without the InSet-aware guard this
  * dies with "Max iterations (100) reached".
  */
object ExtensionsAnnCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dim = 8
    val base = java.nio.file.Files
      .createTempDirectory("graft-extcheck-").toString
    val rows = (0 until 320).map { i =>
      val g = i % 16
      (i.toLong, Array.tabulate(dim)(j =>
        (if (j == g % dim) 10.0 * (g + 1) else 0.0) + (i % 5) * 0.1))
    }.toDF("vec_id", "embedding")
    val cents = (0 until 320 by 20).map { i =>
      val g = i % 16
      (i.toLong, Array.tabulate(dim)(j =>
        if (j == g % dim) 10.0 * (g + 1) else 0.0))
    }.toDF("cid", "cv")
    graft.segments.Segments.writeListTree(
      graft.index.Ivf.assign(rows, cents)
        .select("vec_id", "embedding", "centroid_id"),
      s"$base/store", exchange = true)
    cents.write.parquet(s"$base/cents")

    graft.plans.GraftAnn.configure(spark, s"$base/store", s"$base/cents",
      nprobe = 12) // 12 > inSetConversionThreshold (10): the InSet case
    spark.read.parquet(s"$base/store").createOrReplaceTempView("v")
    val arr = Array.tabulate(dim)(j => if (j == 3) 35.0 else 0.3)
      .map(d => s"${d}D").mkString("array(", ", ", ")")
    val df = spark.sql(
      s"""SELECT vec_id, graft_dot(embedding, $arr) AS score
         |FROM v ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin)
    val n = df.collect().length // throws on fixed-point non-convergence
    require(n == 5, s"expected 5 rows, got $n")
    val pf = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PartitionFilters", "")
    }
    require(pf.exists(_.contains("centroid_id")),
      s"probe set did not reach the scan as a partition filter: $pf")
    println("EXTENSIONS_ANN_OK")
    spark.stop()
  }
}
