package graft.pipeline

import graft.{ProcessStarts, SparkSpec}
import graft.tx.AtomicRewrite
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.sql.Timestamp

/** The write path starts no `chmod`, `readlink` or `ls` process. Without
  * the native `libhadoop`, Hadoop's local filesystem forks one for every
  * permission set, `FileContext` rename probe and `LocatedFileStatus`; at
  * ~3 forks and ~20 ms a file they were the per-partition-dir commit
  * floor. A new `listFiles` or permission call on the local filesystem
  * would bring them back, and this spec would fail. */
class ProcessForkGuardSpec extends SparkSpec {
  import spark.implicits._

  private val Forking = Set("chmod", "readlink", "ls")

  test("a medallion batch, a fact compaction and an erasure cycle fork no chmod/readlink/ls") {
    val root = Files.createTempDirectory("graft-fork-guard").toString
    val customer = (1L to 20L)
      .map(k => (k, s"name-$k", k % 5, s"SEG${k % 3}", 100.0 * k))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("updated_at", to_timestamp(lit("2020-01-01 00:00:00")))
    // six order months: the fact commits and compacts several partition dirs
    val orders = (1L to 60L)
      .map(k => (k, 1L + k % 20, "O", 10.0 * k, "3-medium",
        f"2023-${1 + k % 6}%02d-${1 + k % 28}%02d 08:00:00"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "o_orderdate")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))
    val erased = Seq(3L, 7L)
    val requests = erased.zipWithIndex.map { case (id, i) =>
      (s"r$i", "customer", id, "erasure", "processed", s"2024-01-02 0$i:00:00")
    }.toDF("request_id", "subject_type", "subject_id", "request_type",
      "status", "processed_at")
      .withColumn("processed_at", to_timestamp(col("processed_at")))
    val policies = Seq("silver/customer", "gold/dim_customer_snapshot").map(t =>
      Gdpr.Policy(t, "c_custkey", Map("c_name" -> (_ => lit("[ERASED]")))))
    val paths = Medallion.Paths(root)

    val (processed, starts) = ProcessStarts.during {
      Runner.runBatch(spark, root, customer, orders,
        Timestamp.valueOf("2024-01-01 00:00:00"), "b0")
      AtomicRewrite.compact(spark, paths.gold("fact_orders"),
        clusterBy = Seq("o_custkey"), partitionBy = Seq("month_key"))
      GdprRequests.runIncremental(spark, s"$root/control/gdpr_control",
        requests, _ => policies, t => s"$root/$t", s"$root/audit/gdpr", "s",
        Timestamp.valueOf("2024-01-03 00:00:00"))
    }
    val forks = starts.filter(s => Forking.contains(s.program))
    assert(forks.size == 0, "forks, e.g.\n" +
      forks.take(10).map(_.command).mkString("\n"))
    // the run did the work the guard is about
    assert(processed == 2L)
    assert(AtomicRewrite.read(spark, paths.silver("customer"))
      .filter(col("c_custkey").isin(erased: _*) && col("c_name") =!= "[ERASED]")
      .isEmpty)
    val fact = AtomicRewrite.read(spark, paths.gold("fact_orders"))
    assert(fact.count() == 60L)
    assert(fact.select("month_key").distinct().count() == 6L)
    spark.catalog.clearCache()
  }
}
