package graft.core

import org.apache.spark.sql.SparkSession

/** The one source of scratch directories for operators that
  * materialize intermediate parquet (iteration rounds, lineage cuts,
  * TxLog tables an eager view builds). ONE JVM-scoped temp root with
  * ONE shutdown hook — callers get a per-call unique subdir, so
  * repeated invocations never accumulate hooks and concurrent runs
  * never collide. The deployment key `spark.graft.scratch` redirects
  * the parent to cluster storage (HDFS/S3); stale call dirs under a
  * configured parent are the deployer's periodic cleanup (the staging
  * contract `Components.connectedComponents` documents). */
object Scratch {

  private lazy val tempRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(d.toFile)
    }
    d.toString
  }

  /** A fresh per-call directory `<parent>/<tag>-<uuid8>` where parent
    * is `spark.graft.scratch` if set, else the JVM temp root. The
    * directory itself is not created: the first parquet write or
    * TxLog commit into it does that. */
  def dir(spark: SparkSession, tag: String): String =
    spark.conf.getOption("spark.graft.scratch").getOrElse(tempRoot) +
      s"/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
}
