package graft

import org.apache.spark.sql.SparkSession

/** Typed readers for the `spark.graft.*` session confs. */
object GraftConf {

  /** The long value of `key`, or `default` when unset. A malformed value
    * fails loudly with an error that names the key. */
  def long(spark: SparkSession, key: String, default: Long): Long = {
    val raw = spark.conf.get(key, default.toString)
    try raw.toLong
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be a long, got '$raw'")
    }
  }
}
