package perfbench

import graft.core.Tables
import graft.pipeline._
import graft.tx.AtomicRewrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The closed loop: each call starts only after the previous one returned.
  * The first failure stops the loop; its cause is kept for the result. */
final class Steps {
  val done: ArrayBuffer[Step] = ArrayBuffer()
  var error: Option[Throwable] = None

  def apply(kind: String, name: String)(body: => Unit): Unit =
    if (error.isEmpty) {
      val start = System.currentTimeMillis()
      val ok = try { body; true } catch { case NonFatal(e) => error = Some(e); false }
      done += Step(done.size, kind, name, start, System.currentTimeMillis(), ok)
    }
}

/** The counts gen.py scheduled (its plan.properties). */
final case class Plan(props: java.util.Properties) {
  def int(key: String): Int = props.getProperty(key).toInt
}

trait Workload {
  def rules: PhaseRules
  /** Run the workload over the inputs under `dir` into the empty `root`. */
  def run(spark: SparkSession, dir: String, root: String, plan: Plan, steps: Steps): Unit
  /** Write the final state the output checks read, as plain parquet. */
  def exportState(spark: SparkSession, root: String, out: String): Unit

  protected def day(n: Int): Timestamp =
    new Timestamp(Runner.FixedNow.getTime + n * 86400000L)

  protected def save(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

/** Full load, then incremental batches through [[Runner.runBatch]], with
  * `erasure_cycles` erasure-request cycles through
  * [[GdprRequests.runIncremental]] after every `erasure_every`-th batch. */
object MedallionWorkload extends Workload {
  val rules: PhaseRules = PhaseRules.medallion
  val Salt = "perfbench-salt"
  /** Every customer table of every layer that carries the name. */
  val PiiTables: Seq[String] =
    Seq("bronze/customer", "silver/customer", "gold/dim_customer_snapshot")

  private def policies: Seq[Gdpr.Policy] = PiiTables.map { t =>
    Gdpr.Policy(t, "c_custkey", Map(
      "c_name" -> (_ => Gdpr.pseudonym(Salt, "customer", col("c_custkey")))))
  }

  def run(spark: SparkSession, dir: String, root: String, plan: Plan,
          steps: Steps): Unit = {
    steps("load", "load") {
      Runner.runBatch(spark, root, Tables.load(spark, s"$dir/load", "customer"),
        Tables.load(spark, s"$dir/load", "orders"), day(0), "load")
    }
    if (steps.error.isEmpty) advanceFact(spark, root, plan.int("batches"))
    val every = plan.int("erasure_every")
    val cycles = plan.int("erasure_cycles")
    for (b <- 1 to plan.int("batches")) {
      val bd = f"$dir/batch_$b%03d"
      steps("batch", f"batch_$b%03d") {
        Runner.runBatch(spark, root, Tables.load(spark, bd, "customer"),
          Tables.load(spark, bd, "orders"), day(b), f"b$b%03d")
      }
      if (b % every == 0) for (k <- 1 to cycles) {
        val c = (b / every - 1) * cycles + k
        steps("erasure", f"erasure_$c%03d") {
          // the request feed is a growing table, re-scanned every cycle;
          // the job's own watermark picks the new requests out of it
          val feed = (1 to c).map(i => Tables.load(spark, dir, f"requests_$i%03d"))
            .reduce(_ unionByName _)
          GdprRequests.runIncremental(spark, s"$root/control/gdpr_control",
            feed, _ => policies, t => s"$root/$t", s"$root/audit/gdpr", Salt, day(b))
        }
      }
    }
  }

  /** Untimed, between the load and the first batch: row-preserving fact
    * commits (the compaction Runner itself runs) stand in for the earlier
    * incremental commits, so that the last timed batch lands on a version
    * divisible by [[Runner.CompactEveryVersions]] and compacts. One
    * compaction per run at the cost of a few small rewrites instead of
    * three more ~17 s batches. Not a [[Steps]] call: neither timed nor
    * traced. */
  private def advanceFact(spark: SparkSession, root: String, batches: Int): Unit = {
    val fact = Medallion.Paths(root).gold("fact_orders")
    def version = AtomicRewrite.currentVersion(spark, fact).getOrElse(0L)
    while ((version + batches) % Runner.CompactEveryVersions != 0)
      AtomicRewrite.compact(spark, fact, clusterBy = Seq("o_custkey"),
        partitionBy = Seq("month_key"))
  }

  def exportState(spark: SparkSession, root: String, out: String): Unit = {
    save(AtomicRewrite.read(spark, s"$root/gold/agg_orders_daily")
      .select("date_key", "orders_total", "sum_price"), s"$out/agg")
    val names = PiiTables.map { t =>
      val df = if (t.startsWith("bronze/")) spark.read.parquet(s"$root/$t")
               else AtomicRewrite.read(spark, s"$root/$t")
      df.select(lit(t).as("layer"), col("c_custkey"), col("c_name"))
    }.reduce(_ unionByName _)
    save(names, s"$out/names")
    save(Gdpr.readAudit(spark, s"$root/audit/gdpr")
      .select("subject_fingerprint", "table_name"), s"$out/audit")
  }
}

/** A first batch into an empty root, then curation batches through
  * [[CurationRunner.runBatch]] (near-dup on, contamination slice set, ANN
  * store fed), each followed by a forget through
  * [[Gdpr.forgetStoresStaged]]; the pass ends with
  * [[CurationRunner.maintain]]. */
object CurationWorkload extends Workload {
  val rules: PhaseRules = PhaseRules.curation
  val Salt = "perfbench-salt"

  private def conf(spark: SparkSession, dir: String): CurationRunner.Conf =
    CurationRunner.Conf(benchmark = Some(Tables.load(spark, dir, "eval")),
      nearDupThreshold = Some(0.5))

  private def embeddings(spark: SparkSession, dir: String): Option[DataFrame] =
    Some(Tables.load(spark, dir, "emb").select("vec_id", "embedding"))

  def run(spark: SparkSession, dir: String, root: String, plan: Plan,
          steps: Steps): Unit = {
    val c = conf(spark, dir)
    // the first batch ingests without publishing (the production
    // cadence); the next batch publishes the release over both
    steps("load", "load") {
      CurationRunner.runBatch(spark, root, Tables.loadSpread(spark, s"$dir/load", "docs"),
        day(0), "b000", c, embeddings(spark, s"$dir/load"), publish = false)
    }
    for (b <- 1 to plan.int("batches")) {
      val bd = f"$dir/batch_$b%03d"
      steps("batch", f"batch_$b%03d") {
        CurationRunner.runBatch(spark, root, Tables.loadSpread(spark, bd, "docs"),
          day(b), f"b$b%03d", c, embeddings(spark, bd))
      }
      steps("forget", f"forget_$b%03d") {
        Gdpr.forgetStoresStaged(spark, Tables.load(spark, dir, f"forget_$b%03d"),
          "document", CurationRunner.storeErasureStages(spark, root, c),
          s"$root/_audit", Salt, day(b))
      }
    }
    steps("maintain", "maintain") { CurationRunner.maintain(spark, root) }
  }

  def exportState(spark: SparkSession, root: String, out: String): Unit = {
    val p = CurationRunner.Paths(root)
    val shards = TrainingShards.Paths(p.shards)
    val ann = AnnIndexStore.Paths(p.ann)
    def ids(table: String, df: DataFrame, col0: String): DataFrame =
      df.select(lit(table).as("table_name"), col(col0).cast("long").as("id"))
    save(Seq(
      ids("corpus", AtomicRewrite.read(spark, p.corpus), "doc_id"),
      ids("curated", CurationRunner.readCurated(spark, root), "doc_id"),
      ids("shards", AtomicRewrite.read(spark, shards.shards), "doc_id"),
      ids("postings", AtomicRewrite.read(spark, IndexStore.Paths(p.index).postings)
        .select("doc_id").distinct(), "doc_id"),
      ids("ann_cells", AtomicRewrite.read(spark, ann.cells), "vec_id"),
      ids("ann_vecmap", AtomicRewrite.read(spark, ann.vecmap), "vec_id"))
      .reduce(_ unionByName _), s"$out/ids")
    save(TrainingShards.readManifest(spark, p.shards).select("n_docs"), s"$out/manifest")
  }
}
