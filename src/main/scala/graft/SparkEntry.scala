package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The operator catalog itself lives in [[Queries]].
  */
object SparkEntry {
  /** Flagship: distributed BQF build over sf0.001 document shingles, queried
    * back through the broadcast sketch (build -> merge -> query end-to-end).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.q01BqfAbundance(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for q22 (t-digest/KLL centroids
    * are merge-order-dependent — genuinely not SQL-replayable) -> rows-only
    * check with accuracy bounds asserted in the scalatest suites. Every
    * other entry, including the LSH/SimHash/HLL sketches (splitmix64 hash
    * families replayed in closed form), carries a hash-exact oracle.
    */
  def oracleSql: Map[String, String] = Queries.oracles

  /** Cores of the mains' `local[n]` sessions: `SPARK_GRAFT_CPUS`, else
    * every core the JVM sees.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
}
