package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a local session is configured. Bench, Verify, the tools
  * and the test sessions all start from [[builder]], so master, shuffle
  * fan-out, time zone and UI settings cannot drift apart between them.
  * AQE and its partition coalescing are Spark 4 defaults and need no
  * setting here. */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, or every available processor when it is unset. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC session time
    * and the UI off. Callers add their own settings (extensions, skew
    * thresholds, [[envConf]]) before `getOrCreate`. */
  def builder(app: String, cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CONF="k=v;k=v"`: extra session settings for A/B runs,
    * in the order given. Entries without `=` are ignored. */
  def envConf(): Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
}
