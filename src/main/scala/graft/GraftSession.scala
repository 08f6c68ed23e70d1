package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's entry points and the shared test session build a
  * SparkSession, so every main plans and times queries under the settings
  * the bench measures. It does not enable the cross-invocation
  * [[graft.operators.StageCache]]: mains that want it call
  * `StageCache.enableDefault()` themselves, and the test JVM must not.
  */
object GraftSession {

  /** Session settings for a `local[cores]` driver. The 5000-entry Janino
    * class cache: the suite runs 180 distinct queries x N runs, each
    * compiling ~5-10 whole-stage-codegen classes, so the default 100
    * entries thrash and even a query's second run recompiles every
    * generated class. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  def build(cores: Int = GraftSession.cores()): SparkSession = {
    val spark = conf(cores)
      .foldLeft(SparkSession.builder().appName("graft")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Driver cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cores(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors())

  /** `env(name)` as a positive integer, `default` when unset. Any other
    * value fails naming the variable and the value, instead of reaching
    * a master URL or a bare `toInt`. */
  def positiveInt(env: Map[String, String], name: String, default: => Int): Int =
    env.get(name) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
    }
}
