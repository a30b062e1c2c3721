package graft
import org.apache.spark.sql.SparkSession

/** The one local-session recipe (Bench, Verify, Dev and the specs all
  * build their session here) and the per-query cache protocol they share.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `local[cpus]` with one shuffle partition per core, UTC, raw-nanos
    * parquet timestamps (`Tables.normalizeEventTs` branches on them), AQE
    * on, no UI, WARN logging. */
  def session(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run one query's build and consumption, then drop every frame its
    * builders persisted. Builders return lazy frames and cannot unpersist
    * their own intermediates, so the session owns them: every
    * repeated-invocation caller goes through here (`PersistLifecycleSpec`
    * pins that this reclaims them). */
  def consume[A](spark: SparkSession)(f: => A): A =
    try f finally spark.catalog.clearCache()
}
