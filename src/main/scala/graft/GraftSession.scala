package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is wired: extensions (TopKPerKey
  * strategy + RankLimitToTopK rule), the nanos-timestamp read conf the
  * `events` table requires, UTC session time, UI off, and shuffle
  * parallelism sized to the core count instead of the 200-partition
  * default (local runs drown in empty-partition scheduling otherwise;
  * a cluster deployment overrides `shufflePartitions` to its reducer
  * budget). The benchmark and the test suite both build through here,
  * so a library user gets the same session shape they are measured on.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: String,
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      // storage-partitioned joins: let DSv2 scans reporting
      // KeyGroupedPartitioning (the lake's hidden partitioning) join
      // co-partitioned tables with no Exchange on either side
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** Local session with `cpus` worker threads and matching shuffle
    * parallelism — the shape every driver main uses.
    */
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
