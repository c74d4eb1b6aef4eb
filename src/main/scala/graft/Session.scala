package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every main (and the test
  * JVM) runs under, so timings and results from Bench, Verify, the specs
  * and the dev tools are taken under the same settings. */
object Session {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // pinned TZ: date-bucketing queries do the same work (same day
      // boundaries, row counts) regardless of the machine's zone
      .config("spark.sql.session.timeZone", "UTC")
      // NOT dead config on micros fixtures (it is a no-op there): this flag
      // is what makes a TIMESTAMP(NANOS) fixture regen READABLE at all —
      // Spark 4 otherwise rejects the parquet type, while with the flag it
      // reads as int64 and Tables.normalizeTs routes it adaptively.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
