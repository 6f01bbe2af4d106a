package graft

import org.apache.spark.sql.SparkSession

/** The one session factory behind every main and the test session. It
  * holds only the settings every site shares; a setting that one site
  * needs (a tmpfs `spark.local.dir`, shuffle compression off, a deployment
  * master) is added by that site, with its reason.
  */
object GraftSession {
  /** A `local[cpus]` builder with one shuffle partition per core, UTC
    * session time (the catalog's timestamp oracles assume it), no UI, AQE
    * on, a Kryo buffer that holds large sketch aggregation buffers, and an
    * object-hash aggregate that falls back to sort only past 4096 keys.
    */
  def builder(cpus: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
}
