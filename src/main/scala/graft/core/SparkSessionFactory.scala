package graft.core

import org.apache.spark.sql.SparkSession

/** Central session construction (SURVEY.md §7.1): UTC, AQE with skew-join
  * handling, shuffle parallelism matched to cores, graft SQL functions
  * registered. One place to retune when moving from local[32] to a real
  * cluster. */
object SparkSessionFactory {

  def local(cores: Int, appName: String = "graft"): SparkSession = {
    // in-process chmod/readlink for file: paths (LocalFileSystems); set
    // before getOrCreate, ahead of the JVM's first file: FileSystem
    val s = LocalFileSystems.register(SparkSession.builder())
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // coalescePartitions.parallelismFirst stays at its TRUE default
      // deliberately (r16 measured the alternative): =false coalesces
      // post-shuffle stages to advisory BYTES, which serialized the
      // engine's compute-dense-per-byte stages (sha-over-shingles,
      // tokenize) onto 1-2 tasks — q26 8.7→13.2 s, q137 14.7→21.1 s.
      // AQE sizes by bytes and cannot see CPU density; parallelism-first
      // is load-bearing for this workload shape.
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // whole-stage-codegen compiled-class cache, sized to the engine's
      // operator surface: the 100-entry default thrashes on any session
      // serving the full 140+-query suite (every plan recompiles ~1.9 s
      // of Janino per revisit — measured as a ~1.5x min inflation on
      // sub-second queries when Bench went sweep-ordered). Static conf:
      // must be set at session build, JVM-wide for its lifetime.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // bucketed gold tables (saveAsTable) land in tmp, never the cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .getOrCreate()
    graft.functions.GraftFunctions.registerTo(s)
    // top-k-per-key strategy + the row_number≤k rewrite: every session
    // plans the rank-filter idiom through the heap operator (the whole
    // oracle suite runs — and is hash-verified — under this rule)
    graft.plans.TopKPerKey.install(s)
    graft.plans.AsOfJoinNative.install(s)
    s
  }

  /** Cores from SPARK_GRAFT_CPUS (driver contract), default 32. */
  def fromEnv(appName: String = "graft"): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, appName)
}
