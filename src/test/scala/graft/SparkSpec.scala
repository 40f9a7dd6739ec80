package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Overwrite the first bytes of every parquet data file under `table`
    * EXCEPT those inside a partition dir named in `keepDirs`, and drop
    * the local-FS `.crc` sidecars so footers (at the tail) stay readable
    * while any data-page read of a smashed file throws — the brutal
    * proof that a plan never reads bystander pages. */
  protected def smashParquet(table: String,
                             keepDirs: Set[String] = Set.empty): Unit = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        if (f.getName == "_sigs" || keepDirs.contains(f.getName)) Nil
        else f.listFiles().toSeq.flatMap(walk)
      } else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(table)).foreach { f =>
      java.nio.file.Files.write(f.toPath, "XXXXXXXX".getBytes,
        java.nio.file.StandardOpenOption.WRITE)
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the production sessions' local filesystem (SparkSessionFactory)
    val s = graft.core.LocalFileSystems.register(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
