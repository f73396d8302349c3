package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session the entry points (Bench, Verify, Explain,
  * ScaleLane) run on.
  *
  * Heartbeat headroom: an early benchmark run died of 60 missed
  * executor heartbeats while the host was loaded. A local-mode JVM
  * must never heartbeat-suicide — executor and scheduler share the
  * process, so a long GC pause starves the heartbeater RPC without
  * anything actually being wrong; raise the failure tolerance and
  * timeouts instead of dying.
  */
object GraftSession {

  /** Cores: SPARK_GRAFT_CPUS, else the machine's. A hard-coded default
    * silently quarters throughput when the caller forgets the env var. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `cachePrefixes` turns on PlanCache: report sessions rebuild the
    * same processed-zone prefixes per query, so persist them once like
    * the reference's staged zones persist between jobs; wide shared
    * prefixes (the dedup feature table) go to a parquet side-table
    * instead of block storage — see PlanCache.sideTable. Off, the
    * session measures the cold path. */
  def local(cachePrefixes: Boolean = false): SparkSession = {
    val cpus = GraftSession.cpus
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // NTZ-vintage events.ts casts wall clock → instant through the
      // session zone; UTC keeps it identical to the oracle's naive read.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // heartbeat headroom (see scaladoc): tolerate minutes-long GC /
      // CPU starvation on a loaded host rather than exiting mid-run
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.executor.heartbeat.maxFailures", "10000")
      .config("spark.network.timeout", "600s")
      .config("spark.rpc.askTimeout", "600s")
      .config("spark.graft.cachePrefixes", cachePrefixes.toString)
    if (cachePrefixes) b.config("spark.graft.featureTableDir",
      s"${System.getProperty("java.io.tmpdir")}/graft_feature_tables")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
