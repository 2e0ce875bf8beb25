package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains and test base build a Spark session. */
object Sessions {

  /** A `local[cores]` session in UTC with the UI off. Shuffle partitions
    * default to `cores`; `appName = None` leaves Spark's generated name;
    * `conf` entries are applied last. */
  def local(cores: String,
      appName: Option[String] = None,
      shufflePartitions: Option[String] = None,
      adaptive: Boolean = true,
      logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores))
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
    appName.foreach(b.appName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
