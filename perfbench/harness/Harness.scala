package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: an untimed engine warm-up on its own root,
  * the timed calls, then the export the output checks read. Writes a JSON
  * result file; run.py turns it into the benchmark's metrics.
  *
  * Usage: Harness --workload W --inputs DIR --work DIR --cores N
  *                --trace 0|1 --input-bytes N --run-id ID --out FILE
  *                [--spans FILE]
  */
object Harness {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--cds-training")) cdsTraining(args(1))
    else run(args)

  /** The build's class-data-sharing training run: start Spark and run the
    * engine warm-up, so the JVM archives the classes every run loads. */
  private def cdsTraining(work: String): Unit = {
    val spark = graft.core.SparkSessionFactory.local(2, "perfbench-cds")
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark, work, s"$work/root")
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val workload: Workload = a("workload") match {
      case "medallion_incremental" => MedallionWorkload
      case "curation_cycles" => CurationWorkload
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val plan = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(a("inputs"), "plan.properties"))
    try plan.load(in) finally in.close()

    val spark = graft.core.SparkSessionFactory.local(cores, s"perfbench-${a("workload")}")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    // untimed engine warm-up on its own root: SQL planning, codegen, the
    // parquet reader over every input table, and one transactional
    // commit. (A full warm pass of the workload would cost another cold
    // load per run, ~25 s on 4 cores; the timed calls therefore include
    // the first-use cost of their own code paths, as one spark-submit
    // per scheduled batch does.)
    warmUp(spark, a("inputs"), s"$work/warm_root")
    val setupEndMs = System.currentTimeMillis()

    val canaryBefore = Canary.seconds()
    val root = s"$work/root"
    val tracer = if (trace) Some(Tracer.install(spark, workload.rules, root)) else None
    tracer.foreach(_.begin())
    val steps = new Steps
    workload.run(spark, a("inputs"), root, Plan(plan), steps)
    tracer.foreach(_.end())
    val timedEndMs = System.currentTimeMillis()
    val canaryAfter = Canary.seconds()

    val error = steps.error
    val exported = error.isEmpty && {
      workload.exportState(spark, root, s"$work/export"); true
    }
    val exportEndMs = System.currentTimeMillis()
    val (layers, report, spans) = tracer match {
      case Some(t) => t.summarize(steps.done.toSeq, cores, a("input-bytes").toLong, a("run-id"))
      case None => (Nil, Map.empty[String, Any], Nil)
    }
    val result = Map[String, Any](
      "setup_end_ms" -> setupEndMs,
      "timeline_ms" -> Map("main" -> mainStartMs, "session" -> sessionMs,
        "setup_end" -> setupEndMs, "timed_end" -> timedEndMs, "export_end" -> exportEndMs),
      "steps" -> steps.done.map(stepJson),
      "error" -> error.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(2000)),
      "exported" -> exported,
      "stored_bytes" -> dirBytes(new java.io.File(root)),
      "peak_rss_mb" -> peakRssMb(),
      "canary_s" -> Seq(canaryBefore, canaryAfter),
      "per_layer" -> (layers ++ tracer.map(_ =>
          ("host.canary_s", (canaryBefore + canaryAfter) / 2, "s")))
        .map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "report" -> report)
    Files.write(Paths.get(a("out")), Json.render(result).getBytes(UTF_8))
    a.get("spans").foreach { f =>
      Files.write(Paths.get(f), spans.map(Json.render).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  private def warmUp(spark: org.apache.spark.sql.SparkSession, inputs: String,
                     root: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    Files.walk(Paths.get(inputs)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .foreach(p => spark.read.parquet(p.toString).count())
    graft.tx.AtomicRewrite.write(spark, s"$root/t", spark.range(100L).toDF("id"))
    graft.tx.AtomicRewrite.read(spark, s"$root/t").count()
    spark.catalog.clearCache()
  }

  private def stepJson(s: Step): Map[String, Any] =
    Map("kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "ok" -> s.ok)

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  /** The process's peak resident set (VmHWM), from procfs. */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }
}
