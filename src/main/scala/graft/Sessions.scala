package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for the driver-contract mains.
  *
  * Config notes (100 TB view):
  *  - shuffle.partitions = core count for local runs; a cluster deploy
  *    sizes this to executors × cores (AQE re-splits at runtime).
  *  - adaptive.coalescePartitions.minPartitionSize is lowered from 1 MB
  *    to 64 KB: AQE coalesces by BYTES, which serializes compute-bound
  *    stages whose rows are cheap to store but expensive to process
  *    (md5 minhash, shingle explosion, vector dot products) onto one
  *    core. 64 KB keeps those stages at full parallelism while still
  *    coalescing genuinely tiny exchanges.
  *  - partition discovery lists on the driver ([[DriverListing]]). Past
  *    `parallelPartitionDiscovery.threshold` (32) paths Spark lists
  *    through a Spark job, one task per directory; every read of a
  *    90-date table paid that job (89 tasks; on a 4-vCPU host
  *    0.3-0.4 s of a ~1 s call). Under `local[N]` those tasks run on
  *    the driver JVM's own threads against the same filesystem, so the
  *    job adds only scheduling cost. A cluster deploy keeps Spark's
  *    distributed listing: there, the tasks spread the namenode /
  *    object-store round trips over executors.
  */
object Sessions {

  /** The session setting that keeps partition discovery on the driver
    * for any number of paths (see the config notes above).
    */
  val DriverListing: (String, String) =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString

  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config(DriverListing._1, DriverListing._2)
      // NOTE: spark.speculation is deliberately NOT set — the scheduler
      // only starts the speculation thread on a real cluster
      // (TaskSchedulerImpl guards it with !isLocal), so under local[N]
      // it would be a dead setting giving false confidence. Stall
      // mitigation here is Bench's min-of-N sampling; on a cluster
      // deployment, enable speculation in the submit conf.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
